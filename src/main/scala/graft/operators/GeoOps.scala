package graft.operators

import graft.{Q, Tables}
import graft.functions.Geo
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Geo/transit queries — the reference's actual domain (AIS vessel
  * analytics: per-vessel track lengths, zone transit counts;
  * SURVEY.md §0.1 and §7 open items).
  *
  * The testdata carries no lat/lon, so positions are DERIVED from
  * events deterministically with pure integer arithmetic
  * (`event_id · prime mod range`, then one exact decimal shift;
  * [[Voyages]] defines it, with the zone and the voyage split) —
  * bit-identical in Spark and DuckDB, so the only cross-engine float
  * hazard left is libm transcendentals inside haversine, which differ
  * by ≤1 ulp and vanish under the 3-dp round (SURVEY §2.0 rule 2).
  * The event stream then reads as an AIS feed: user_id = vessel,
  * ts = position-report time, (lat, lon) = position.
  *
  * Scale shape: the per-vessel hop queries (track length, voyages,
  * headings, speed flags, dwell, zone entries) read each report's
  * predecessor from the user_id-bucketed [[track]], so a hop is a
  * row-local expression and the per-vessel agg runs on the scan's
  * partitioning; zone counts are a single partial+final aggregation
  * over grid cells. Both scale by key with no all-pairs or
  * driver-side work.
  */
object GeoOps {

  val queries: Map[String, Q] = Map(
    // Per-vessel track length: haversine sum over consecutive
    // position reports, ordered by (ts, event_id) — a total order
    // ((user_id, ts) is unique in the fixtures; event_id breaks any
    // future tie portably since DuckDB sorts ns-precision ts while
    // Spark sorts µs). The [[track]] decided that order once: each
    // report's hop starts at its prev_id.
    "geo_track_length" -> ((s, d) =>
      hops(s, d)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_points"),
          round(sum(coalesce(hopKm, lit(0.0))), 3).as("track_km"))
        .orderBy("user_id")),

    // Zone transit counts: 30° grid cells, events + distinct vessels
    // per cell — integer outputs, no float hazard at all.
    "geo_zone_counts" -> ((s, d) =>
      Voyages.withPos(Tables.events(s, d))
        .withColumn("zone", Voyages.zone(30.0))
        .groupBy("zone")
        .agg(count(lit(1)).as("n_events"),
          countDistinct("user_id").as("n_users"))
        .orderBy("zone")),

    // Voyage segmentation — THE core ShippingLanes transit op: split
    // each vessel's position stream at >30-min report gaps
    // ([[Voyages.segment]], shared with stream_session), then measure
    // each voyage (points + haversine length). The split is read from
    // the on-disk [[track]] (user_id-bucketed, voyage ids and each
    // report's predecessor precomputed): a report continuing its
    // voyage (is_new = 0) adds the hop from its prev_id, and the
    // per-voyage agg runs on the scan's partitioning — no window, and
    // the only exchange is the final sort.
    "geo_voyages" -> ((s, d) =>
      hops(s, d)
        .groupBy("user_id", "voyage")
        .agg(count(lit(1)).as("n_points"),
          round(sum(when(col("is_new") === 0, hopKm).otherwise(0.0)), 3)
            .as("voyage_km"))
        .orderBy("user_id", "voyage")),

    // Modal course per vessel: initial bearing of each consecutive
    // hop, binned into eight 45° sectors (0 = N..NE, …, 7 = NW..N) —
    // the "course distribution" companion to track length. INTEGER
    // outputs only (sector ids and hop counts). Cross-engine float
    // hazard, handled per SURVEY §2.0 rule 2: the fixture CONTAINS
    // hops that land on sector boundaries (event_id diffs ≡ 0 mod
    // 18000 give dLon = ±180° → bearing within ulps of 0/180/360),
    // so the bearing is ROUNDED TO 3 DP before floor — both engines
    // then bin the identical decimal, and a bearing rounding to
    // exactly 360.000 folds to sector 0 via % 8 (consistent with its
    // near-0 meaning). The remaining hazard — a raw bearing within
    // ~1e-10 of a half-millidegree rounding tie — is pinned away by
    // GeoOpsSpec's margin test. Ties in the modal count break toward
    // the lower sector id (deterministic on both engines). The hop is
    // the [[track]]'s prev_id → event_id, and the sector agg, the
    // modal window and the per-vessel total all run on the track's
    // user_id buckets: the only exchange is the final sort.
    "geo_headings" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val modal = Window.partitionBy("user_id")
        .orderBy(col("n_hops").desc, col("sector"))
      hops(s, d)
        .filter(col("prev_id").isNotNull)
        .withColumn("sector",
          (floor(round(Geo.bearingDeg(col("plat"), col("plon"),
            col("lat"), col("lon")), 3) / 45) % 8).cast("long"))
        .groupBy("user_id", "sector")
        .agg(count(lit(1)).as("n_hops"))
        .withColumn("rk", row_number().over(modal))
        .withColumn("total_hops",
          sum("n_hops").over(Window.partitionBy("user_id")))
        .filter(col("rk") === 1)
        .select(col("user_id"), col("sector").as("modal_sector"),
          col("n_hops").as("sector_hops"), col("total_hops"))
        .orderBy("user_id")
    }),

    // Impossible-speed report cleaning — the AIS "teleporting vessel"
    // filter: hop speed (haversine km over the report gap) above
    // 500 km/h flags a bad position fix. INTEGER outputs (hop and
    // flag counts) plus a ratio of those integers (identical ints →
    // identical division → identical 4-dp round on both engines); the
    // speed double crosses engines only through the > 500 membership
    // test, and the fixture's pseudo-random hops sit far from the
    // threshold (GeoOpsSpec pins the minimum |speed − 500| margin).
    // The hop and its gap are the [[track]]'s (gap_us is null on a
    // vessel's first report, which the filter drops), and the
    // per-vessel agg runs on its user_id buckets.
    "geo_speed_flags" -> ((s, d) =>
      hops(s, d)
        .filter(col("gap_us") > 0)
        .withColumn("speed_kmh", hopKm / (col("gap_us") / 3.6e9))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_hops"),
          count(when(col("speed_kmh") > 500.0, 1)).as("n_impossible"))
        .withColumn("bad_ratio",
          round(col("n_impossible").cast("double") / col("n_hops"), 4))
        .orderBy("user_id")),

    // Co-presence (the convoy/rendezvous primitive): vessel pairs
    // reporting from the SAME 30° zone within the SAME hour, with
    // meeting counts. The spatio-temporal cell (zone, hour) is the
    // blocking key — the self-join shuffles once on it and candidate
    // pairs are quadratic only in CELL occupancy, never in fleet
    // size (the same candidate→verify shape as the dedup blocks; at
    // a finer grid the cells shrink and the bound tightens). The
    // per-hour distinct collapses multi-report presence first so a
    // chatty vessel can't inflate pair counts. INTEGER outputs.
    // Point-in-polygon zone assignment — the real ShippingLanes zone
    // op (ports, straits, ecological areas are IRREGULAR shapes, not
    // graticule cells). Ray casting with INTEGER-ONLY arithmetic:
    // positions in centi-degrees (the derived positions' native
    // resolution — no division, no floats anywhere), an edge crossing
    // decided by the sign of the cross product (px-x1, py-y1) ×
    // (x2-x1, y2-y1) against the edge's y-direction — the classic
    // even-odd rule with the division replaced by a sign-safe
    // multiply. Both engines run the same 64-bit integer expressions,
    // so the oracle (generated from the SAME vertex data — one
    // definition site, can't drift) matches bit for bit. Scale shape:
    // the polygon table is a LITERAL folded row-locally per point
    // (zero joins, zero extra exchanges — just the final per-zone
    // agg); with thousands of zones you'd swap the literal for a
    // broadcast edge table grid-blocked by bounding box, same
    // semantics.
    "geo_zone_polygon" -> ((s, d) => {
      val pts = Voyages.withPxPy(Tables.events(s, d))
      val zoneFlags = zonePolygons.map { case (z, verts) =>
        struct(lit(z).as("zone"),
          insideExpr(verts, col("px"), col("py")).as("inside"))
      }
      pts
        .select(col("user_id"), explode(array(zoneFlags: _*)).as("zf"))
        .filter(col("zf.inside"))
        .groupBy(col("zf.zone").as("zone"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct("user_id").as("n_users"))
        .orderBy("zone")
    }),

    // The grid size is a PARAMETER (cellDeg): the graded key stays at
    // 30° (oracle unchanged), but one busy 30° cell-hour at real AIS
    // density (a major port) holds 10⁴–10⁵ vessels → a quadratic
    // blow-up inside one shuffle partition. At scale you call the
    // same operator at 1° (or finer): candidate volume tracks
    // occupancy² of the FINER cells — GeoOpsSpec proves the bound on
    // a synthetic hot cell.
    // The pair set persists via [[graft.Cache]] ("geo.coPairs"):
    // geo_triangles' five structural references to the edge frame
    // would otherwise each rebuild the whole co-presence pipeline —
    // the round-8 ReuseExchange finding (neither static reuse nor
    // AQE's stage cache collapses duplicated lineages).
    "geo_co_presence" -> ((s, d) =>
      graft.Cache.cached(s, d, "geo.coPairs")(
        coPresenceFrom(cells30(s, d)))),

    // Convoy detection's core primitive — meeting STREAKS: for each
    // co-present vessel pair, the longest run of CONSECUTIVE meeting
    // hours and the total meeting hours, via gaps-and-islands (hour
    // index minus row_number is constant within a run). A convoy
    // query is then a trivial HAVING max_streak >= k on top (the
    // fixtures' sparse traffic has no multi-hour streaks at the
    // graded SF, so the threshold stays with the user). INTEGER
    // outputs. Scale shape: the pair generation is geo_co_presence's
    // blocked self-join (quadratic in cell occupancy only); the
    // streak window partitions by PAIR — parallelism scales with
    // pairs, and the (pair, island) agg + per-pair agg ride the same
    // exchange (pair ⊆ both key sets).
    "geo_meeting_streaks" -> ((s, d) =>
      meetingStreaksFrom(cells30(s, d))),

    // Port-dwell accounting — time spent per (vessel, zone): each
    // report-to-report gap of ≤ 30 min (the voyage threshold — a
    // longer gap is a voyage break, not presence) is attributed to
    // the zone of the EARLIER report. INTEGER arithmetic end to end:
    // gaps are µs longs, summed then `div`-ed to whole seconds — no
    // float crosses engines. A hop within a voyage is exactly a
    // [[track]] row with is_new = 0; its earlier report is prev_id.
    // The (user, zone) agg's clustering is satisfied by the track's
    // user_id buckets (user_id ⊆ group keys), exactly like
    // geo_voyages' per-voyage agg.
    "geo_zone_dwell" -> ((s, d) =>
      track(s, d)
        .filter(col("is_new") === 0)
        .groupBy(col("user_id"),
          Voyages.eventZone(col("prev_id"), 30.0).as("zone"))
        .agg(expr("sum(gap_us) div 1000000").as("dwell_s"),
          count(lit(1)).as("n_hops"))
        .orderBy("user_id", "zone")),

    // Origin→destination voyage flows — the literal "shipping lanes"
    // aggregate (see [[odMatrix]] for the pipeline and its scale
    // shape). Built ONCE per session: geo_lanes_top, geo_zone_rank
    // and geo_zone_components all consume the same persisted
    // zones²-bounded frame instead of re-running the sessionization
    // (round 9 — the old shape ran the full pipeline three times per
    // bench pass).
    "geo_od_matrix" -> ((s, d) =>
      odMatrix(s, d).orderBy("o_zone", "d_zone")),

    // Convoy-clique primitive: TRIANGLE COUNTS over the co-presence
    // graph — per vessel, how many vessel-triples it belongs to where
    // all three pairwise met (the structure convoy/fleet detection
    // clusters on; CC gives reachability, triangles give density).
    // Scale shape: the textbook degree-ordered orientation — every
    // edge points low-degree → high-degree (ties by id), making the
    // graph a DAG with out-degree ≤ √(2m), so the wedge self-join is
    // Σ outdeg² ≤ m·√(2m) instead of Σ deg² (which a hub vertex
    // makes quadratic); each triangle then has EXACTLY ONE wedge
    // apex, so the closing-edge semi-join counts it once, no
    // dedup/÷3 correction needed. All joins are equi-joins on vertex
    // ids; everything after the co-presence pair set is integers.
    "geo_triangles" -> ((s, d) =>
      triangleCounts(graft.Cache.cached(s, d, "geo.coPairs")(
        coPresenceFrom(cells30(s, d)))
        .select("u1", "u2"))),

    // The flagship domain output: the 20 busiest inter-zone lanes
    // (o ≠ d), ranked by voyage count. Same pipeline as
    // geo_od_matrix; the global top-20 compiles to
    // TakeOrderedAndProject — per-partition top-k merged on the
    // driver, never a full sort of the matrix (PlanSpec pins it).
    "geo_lanes_top" -> ((s, d) =>
      odMatrix(s, d).filter(col("o_zone") =!= col("d_zone"))
        .orderBy(col("n_voyages").desc, col("o_zone"), col("d_zone"))
        .limit(20)),

    // Zone IMPORTANCE over the lane network: PageRank on the OD
    // matrix (zones = nodes, voyage counts = edge weights), 10 power
    // iterations, damping 0.85 — "which zones does the traffic
    // system revolve around", the hub metric a routing/port-capacity
    // analysis starts from. ALL-INTEGER ppm arithmetic ([[zoneRank]]):
    // float PageRank sums are order-dependent across partial
    // aggregation, so cross-engine hashes could never match. The OD
    // edge frame is built once and persisted ([[graft.Cache]]) — the
    // 10-iteration lineage would otherwise recompute the whole
    // sessionization pipeline per iteration.
    // staticMaxEdges: DERIVED from the same cellDeg the OD pipeline
    // bins with ([[zoneCount]] squared) — provable with no Spark
    // job, so once the [[track]] exists building this query runs
    // nothing (PlanSpec pins it), and refining the grid cannot
    // silently leave a stale bound that forces a huge graph onto the
    // single-task path.
    "geo_zone_rank" -> ((s, d) =>
      zoneRank(odMatrix(s, d)
        .select(col("o_zone"), col("d_zone"),
          col("n_voyages").as("w")), iters = 10,
        staticMaxEdges = Some(odMaxEdges))),

    // Traffic BASINS: connected components over the undirected lane
    // graph — which zones are mutually reachable by observed traffic
    // (the reachability complement to geo_zone_rank's importance;
    // an isolated basin is a detached trade system). Component id =
    // min zone label, with sizes. Same two-path discipline as
    // [[zoneRank]]: single-task union-find up to
    // [[Graph.LocalMaxEdges]], distributed pointer-jumping label
    // propagation beyond ([[zoneComponents]]).
    "geo_zone_components" -> ((s, d) =>
      zoneComponents(odMatrix(s, d)
        .select(col("o_zone"), col("d_zone"),
          col("n_voyages").as("w")),
        staticMaxEdges = Some(odMaxEdges))),

    // Zone ENTRIES — how many times vessels enter each polygon zone
    // (port-call counting): in each vessel's (ts, event_id) order,
    // count inside-flag rising edges (inside now, outside or absent
    // before). The predecessor is the [[track]]'s prev_id, so both
    // flags are the integer ray cast, row-local; INTEGER outputs.
    // Scale shape: [[zoneEntriesFrom]] — candidate rows are BBOX
    // HITS, not |zones| × |reports|, and no window: the only
    // exchanges are the per-zone agg and the final sort.
    "geo_zone_entries" -> ((s, d) =>
      zoneEntriesFrom(Voyages.withPxPy(
        Voyages.withPxPy(track(s, d)), "prev_id", "p"), zonePolygons))
  )

  /** Grid size the OD pipeline bins with — the single source the
    * static edge bound below is derived from. */
  private[graft] val odCellDeg: Double = 30.0

  /** Upper bound on distinct [[Geo.gridCell]] zones at `cellDeg`:
    * counts every floor index lat ∈ [-90, 90] / lon ∈ [-180, 180]
    * can produce, INCLUSIVE of both endpoints (floor(90/c) is
    * reachable at lat = 90 exactly). Conservative — e.g. 7·13 = 91
    * at 30° vs the 72 interior cells — but derived, so refining the
    * grid (1° ≈ 65k zones) moves the bound with it instead of
    * leaving a stale constant that "proves" a huge graph bounded. */
  private[graft] def zoneCount(cellDeg: Double): Long = {
    def span(halfRange: Double): Long =
      math.floor(halfRange / cellDeg).toLong -
        math.floor(-halfRange / cellDeg).toLong + 1L
    span(90.0) * span(180.0)
  }

  /** Provable OD edge-universe bound: zones². 91² = 8,281 at the 30°
    * grid — under [[Graph.LocalMaxEdges]]; at a 1°
    * grid this evaluates to ~4.3e9 and correctly forces the
    * distributed path (GeoOpsSpec pins both dispatch directions). */
  private[graft] def odMaxEdges: Long = {
    val z = zoneCount(odCellDeg)
    z * z
  }

  /** Every report's place in its vessel's track: (user_id, event_id,
    * prev_id, gap_us, voyage, is_new, ends), one row per event,
    * persisted ON DISK per fixture ([[graft.Cache.diskBacked]]
    * "geo.track", bucketed by user_id). `prev_id` is the event_id of
    * the vessel's previous report in (ts, event_id) order and
    * `gap_us` the µs since it ([[Voyages.gapUs]]), both null on the
    * vessel's first report; `voyage` and `is_new` are
    * [[Voyages.segment]]'s; `ends` is 1 on a voyage's last report (the
    * next report starts a new voyage, or there is none). One
    * [[Voyages.byVessel]] sort builds them all, once per fixture, so
    * "which report came before this one" is decided here and nowhere
    * else in this file: every per-vessel hop query and the OD build
    * read it instead of shuffling and sorting the events by vessel on
    * every pass. The bucketed scan is hash-partitioned on user_id,
    * which satisfies their (user_id, …) aggregates and windows with
    * no exchange. Position, zone and px/py are pure functions of an
    * event_id, so consumers derive them for both ends of a hop after
    * the scan ([[Voyages.withPos]], [[Voyages.withPxPy]],
    * [[Voyages.eventZone]]) and the artifact stays narrow. */
  private[graft] def track(s: SparkSession, d: String): DataFrame =
    graft.Cache.diskBacked(s, d, "geo.track", "events.parquet",
      Seq("user_id"))(trackBuild(s, d))

  /** The raw (unpersisted) [[track]] lineage. The events are first
    * hash-partitioned on user_id into as many partitions as the
    * artifact has buckets ([[graft.Cache.writeBuckets]]): the voyage
    * windows accept that partitioning and the bucketed write finds
    * its own repartition already done, so the build shuffles the
    * events once. */
  private[graft] def trackBuild(s: SparkSession, d: String): DataFrame =
    Voyages.segment(Tables.events(s, d)
        .repartition(graft.Cache.writeBuckets(s), col("user_id")))
      .withColumn("prev_id", lag(col("event_id"), 1).over(Voyages.byVessel))
      .withColumn("ends", lead(col("is_new"), 1, 1L).over(Voyages.byVessel))
      .select("user_id", "event_id", "prev_id", "gap_us", "voyage",
        "is_new", "ends")

  /** The [[track]] with both ends of each report's hop positioned:
    * `lat`, `lon` at event_id and `plat`, `plon` at prev_id (null on
    * a vessel's first report). */
  private def hops(s: SparkSession, d: String): DataFrame =
    Voyages.withPos(Voyages.withPos(track(s, d)), "prev_id", "p")

  /** The haversine km of a [[hops]] row's hop; null without a
    * predecessor. */
  private def hopKm: Column =
    Geo.haversineKm(col("plat"), col("plon"), col("lat"), col("lon"))

  /** The OD voyage-flow matrix (o_zone, d_zone, n_voyages,
    * n_vessels), UNSORTED, persisted per (session, sf-dir): take each
    * [[track]] voyage's first and last 30° zone, and count voyages +
    * distinct vessels per (origin, destination) pair. The result is
    * zones² rows at most — tiny at any scale, so the persisted frame
    * is cheap to hold and every downstream consumer (the OD query
    * itself, lanes-top, PageRank, components) shares one build.
    * A single-point voyage maps to its own diagonal cell (o = d),
    * which is meaningful (intra-zone movement), not an artifact. */
  private[operators] def odMatrix(s: SparkSession, d: String): DataFrame =
    graft.Cache.cached(s, d, "geo.od")(odMatrixBuild(s, d))

  /** The raw (uncached) OD pipeline — private[graft] so PlanSpec can
    * pin its exchange discipline directly; the declared queries go
    * through the persisted [[odMatrix]]. The track's endpoint flags
    * leave ≤ 2 rows per voyage before the endpoint aggregate, which
    * groups on (user_id, voyage) and so runs on the track's user_id
    * partitioning: no window and no user_id exchange. It picks the
    * endpoints' event_ids (a hash aggregate over longs; the string
    * zones it used to pick needed a sort aggregate), and the zones
    * are derived from those ids after it. */
  private[graft] def odMatrixBuild(s: SparkSession, d: String): DataFrame =
    track(s, d)
      .filter(col("is_new") === 1 || col("ends") === 1)
      .groupBy("user_id", "voyage")
      .agg(
        max(when(col("is_new") === 1, col("event_id"))).as("o_id"),
        max(when(col("ends") === 1, col("event_id"))).as("d_id"))
      .select(col("user_id"),
        Voyages.eventZone(col("o_id"), odCellDeg).as("o_zone"),
        Voyages.eventZone(col("d_id"), odCellDeg).as("d_zone"))
      .groupBy("o_zone", "d_zone")
      .agg(count(lit(1)).as("n_voyages"),
        countDistinct("user_id").as("n_vessels"))

  /** Integer-exact PageRank over a weighted edge list (o_zone,
    * d_zone, w): ranks in PARTS PER MILLION, every step integer —
    * contribution along an edge is (r·w) div out_weight, the damped
    * update is 150000 + (850000·Σ) div 10⁶. Deterministic under any
    * summation order (the reason it is oracle-checkable; float
    * PageRank is not), and bounded: total rank mass stays ≈ n·10⁶,
    * so 850000·Σ < 10¹⁴ ≪ 2⁶³. Dangling zones (no out-edges) leak
    * their mass — the standard simplified formulation, identical on
    * both engines.
    *
    * Scale shape: each iteration is one equi-join + one aggregate on
    * the ZONE-cardinality frame (bounded — thousands at planetary
    * coverage — while the heavy sessionization feeding it scales
    * with the corpus and runs once). Callers persist `edges`; the
    * iteration count is a parameter so the spec can pin convergence
    * behavior.
    *
    * BOUNDED SINGLE-TASK FAST PATH (the dedup_clusters union-find
    * precedent — the broadcast-join tradeoff made explicit): when
    * the weighted edge list is known small (≤ `localMaxEdges`), 10
    * iterations of tiny sequential Spark stages cost far more in
    * scheduling than the arithmetic — the fixture measured 9.2 s
    * distributed vs sub-second local. The same integer recurrence
    * runs in plain Scala (Long `/` == `div` on the positive ranks)
    * inside ONE `mapPartitions` task over a `coalesce(1)` of the
    * edge frame, so the result is bit-identical AND the query stays
    * lazy end to end; GeoOpsSpec forces BOTH paths on the same
    * graph. Beyond the threshold the distributed loop takes over —
    * zone graphs are |zones|²-bounded, so this is the rare regime,
    * but a 1°-grid planet (~65k zones) can exceed it.
    *
    * PATH DISPATCH ([[Graph.oneTask]]): when the caller can PROVE an
    * edge-count bound from the zone universe (`staticMaxEdges` — at
    * the 30° grid [[zoneCount]] admits ≤ 7·13 = 91 zones, so
    * [[odMaxEdges]] is 91² = 8,281 OD edges),
    * the path is chosen with no Spark job and construction is
    * plan-only (PlanSpec asserts zero jobs). */
  private[operators] def zoneRank(edges: DataFrame, iters: Int,
      localMaxEdges: Long = Graph.LocalMaxEdges,
      staticMaxEdges: Option[Long] = None): DataFrame = {
    if (Graph.oneTask(edges, localMaxEdges, staticMaxEdges)) {
      val spark = edges.sparkSession
      import spark.implicits._
      edges.select(col("o_zone"), col("d_zone"), col("w"))
        .as[(String, String, Long)]
        .coalesce(1)
        .mapPartitions(it => localZoneRank(it, iters))
        .toDF("zone", "rank_ppm")
        .orderBy(col("rank_ppm").desc, col("zone"))
    } else {
      val outW = edges.groupBy("o_zone").agg(sum("w").as("ow"))
      val e = edges.join(outW, "o_zone")
      val nodes = edges.select(col("o_zone").as("zone"))
        .unionByName(edges.select(col("d_zone").as("zone"))).distinct()
      var r = nodes.select(col("zone"), lit(1000000L).as("r"))
      (1 to iters).foreach { _ =>
        val contrib = e.join(r.withColumnRenamed("zone", "o_zone"), "o_zone")
          .select(col("d_zone").as("zone"), expr("(r * w) div ow").as("c"))
          .groupBy("zone").agg(sum("c").as("s"))
        r = nodes.join(contrib, Seq("zone"), "left")
          .select(col("zone"), (lit(150000L)
            + expr("(850000 * coalesce(s, 0)) div 1000000")).as("r"))
      }
      r.select(col("zone"), col("r").as("rank_ppm"))
        .orderBy(col("rank_ppm").desc, col("zone"))
    }
  }

  /** The integer PageRank recurrence on a fully-local edge list —
    * the single-task body of [[zoneRank]]'s bounded path. Per-origin
    * out-weights are rebuilt locally (all edges are in the one
    * partition), so no upstream join is needed; every step is the
    * same Long arithmetic as the distributed branch's `div`
    * expressions, making the two paths bit-identical. */
  private def localZoneRank(it: Iterator[(String, String, Long)],
      iters: Int): Iterator[(String, Long)] = {
    val rows = it.toArray
    val ow = rows.groupBy(_._1).map { case (o, es) =>
      o -> es.iterator.map(_._3).sum }
    val nodes = (rows.map(_._1) ++ rows.map(_._2)).distinct
    var r = nodes.map(_ -> 1000000L).toMap
    (1 to iters).foreach { _ =>
      val s = scala.collection.mutable.Map.empty[String, Long]
        .withDefaultValue(0L)
      rows.foreach { case (o, dz, w) => s(dz) += r(o) * w / ow(o) }
      r = nodes.map(z => z -> (150000L + 850000L * s(z) / 1000000L))
        .toMap
    }
    nodes.iterator.map(z => z -> r(z))
  }

  /** Connected components over the OD lane graph (edges = lanes with
    * o ≠ d, nodes = every zone any lane touches — a self-lane-only
    * zone is its own component). Component id = min reachable zone
    * label. The lanes go through [[Graph.symmetric]] (a self-lane
    * becomes a (z, z) edge) into [[Graph.ccFixedPoint]], so the path
    * choice is [[zoneRank]]'s: `staticMaxEdges` bounds the LANES and
    * picks the path with no Spark job. GeoOpsSpec forces both paths
    * equal. */
  private[operators] def zoneComponents(od: DataFrame,
      localMaxEdges: Long = Graph.LocalMaxEdges,
      staticMaxEdges: Option[Long] = None): DataFrame = {
    val spark = od.sparkSession
    import spark.implicits._
    // staticMaxEdges bounds lanes; the solver sees two edges per lane
    val labels = Graph.ccFixedPoint[String](
        Graph.symmetric(od, "o_zone", "d_zone"), localMaxEdges,
        staticMaxEdges.map(2 * _))
      .select(col("n").as("zone"), col("lbl").as("component"))
    val sizes = labels.groupBy("component").agg(count(lit(1)).as("csize"))
    labels.join(sizes, "component")
      .select("zone", "component", "csize")
      .orderBy("zone")
  }

  /** Bbox-prefiltered (point, zone) candidates: one row per report ×
    * CONTAINING BBOX, with the exact ray-cast flag. The naive form
    * explodes every report into every zone — row count |reports| ×
    * |zones|, ruinous at thousands of zones when each point can
    * plausibly touch only a few. Here each zone's struct is built
    * under a bbox guard (`when(between…)`) and nulls are dropped
    * INSIDE the array before the explode, so both the ray-cast
    * arithmetic and the exploded rows scale with bbox hits. (This is
    * the first slice of the broadcast-edge-table plan: at thousands
    * of zones the literal array becomes a broadcast range join on
    * bbox, same row contract.) `pts` carries the report's `px`, `py`
    * and its predecessor's `ppx`, `ppy` (null on a vessel's first
    * report); `prev_in` is the ray cast at the predecessor, false
    * when there is none. */
  private[operators] def zoneCandidates(
      pts: DataFrame,
      zones: Seq[(String, Seq[(Long, Long)])]): DataFrame = {
    val elems = zones.map { case (z, verts) =>
      val minx = verts.map(_._1).min
      val maxx = verts.map(_._1).max
      val miny = verts.map(_._2).min
      val maxy = verts.map(_._2).max
      when(col("px").between(minx, maxx)
          && col("py").between(miny, maxy),
        struct(lit(z).as("zone"),
          insideExpr(verts, col("px"), col("py")).as("inside"),
          coalesce(insideExpr(verts, col("ppx"), col("ppy")), lit(false))
            .as("prev_in")))
    }
    pts
      .select(col("user_id"),
        explode(filter(array(elems: _*), _.isNotNull)).as("zf"))
      .select(col("user_id"), col("zf.zone").as("zone"),
        col("zf.inside").as("inside"), col("zf.prev_in").as("prev_in"))
  }

  /** Rising-edge entry counting over [[zoneCandidates]]: an entry is
    * a report inside the zone whose predecessor is absent or
    * outside. The bbox prefilter drops only rows whose report is
    * OUTSIDE, which are never entries, and each row carries its
    * predecessor's flag, so no row needs another: exactly the
    * full-explode semantics (spec-proven against it), one row per
    * bbox hit and no window. */
  private[operators] def zoneEntriesFrom(
      pts: DataFrame,
      zones: Seq[(String, Seq[(Long, Long)])]): DataFrame = {
    zoneCandidates(pts, zones)
      .filter(col("inside") && !col("prev_in"))
      .groupBy("zone")
      .agg(count(lit(1)).as("n_entries"),
        countDistinct("user_id").as("n_users"))
      .orderBy("zone")
  }

  /** Engine-declared zone shapes: (name, vertices) in centi-degrees,
    * (x, y) = (lon·100, lat·100), implicitly closed. One convex quad,
    * one CONCAVE L (the even-odd rule's interesting case — a
    * bounding-box test would get it wrong), one triangle. Every edge
    * is a PRIMITIVE lattice vector (gcd(|dx|, |dy|) = 1 ⇒ zero
    * interior lattice points — consecutive lattice points on the
    * edge's line are spaced exactly (dx, dy) apart), and no vertex
    * coincides with any of the 36000 positions in the fixtures'
    * event_id → (px, py) orbit (its period is lcm(36000, 18000), so
    * the orbit is the same finite set at EVERY sf): no fixture point
    * falls exactly ON an edge (GeoOpsSpec pins a nonzero crossing
    * margin), so the strict `>` boundary rule is never exercised
    * ambiguously. Axis-aligned edges CANNOT satisfy this (a vertical
    * edge at integer x is hit by every lattice point with px = x in
    * its span), hence the one-to-three-centi-degree shear on the
    * strait's rectangle. */
  private[graft] val zonePolygons: Seq[(String, Seq[(Long, Long)])] =
    Seq(
      "alpha_basin" -> Seq((-6000L, -3000L), (-1003L, -3502L),
        (-3L, 2001L), (-5000L, 2997L)),
      "bravo_strait" -> Seq((1998L, -7999L), (9001L, -8002L),
        (8997L, -2003L), (6003L, -1998L), (6002L, -5003L),
        (2001L, -4998L)),
      "charlie_wedge" -> Seq((9998L, 2997L), (16999L, 3998L),
        (11999L, 8501L)))

  /** Plain-Scala twin of the ray cast for per-event streaming state
    * ([[graft.streaming.Streams.statefulZoneEntries]]) — the same
    * integer arithmetic as the native [[insideExpr]] (StreamingSpec's
    * stream == batch parity transitively proves the three
    * formulations agree on every fixture point). */
  private[graft] def insideOf(verts: Seq[(Long, Long)],
      px: Long, py: Long): Boolean = {
    var cnt = 0
    polyEdges(verts).foreach { case (x1, y1, x2, y2) =>
      if (((y1 > py) != (y2 > py)) &&
          ((((x2 - x1) * (py - y1) - (px - x1) * (y2 - y1)) > 0)
            == (y2 > y1))) cnt += 1
    }
    cnt % 2 == 1
  }

  /** Closing edge list (x1, y1, x2, y2) of a vertex ring. */
  private def polyEdges(
      verts: Seq[(Long, Long)]): Seq[(Long, Long, Long, Long)] =
    verts.indices.map { i =>
      val (x1, y1) = verts(i)
      val (x2, y2) = verts((i + 1) % verts.size)
      (x1, y1, x2, y2)
    }

  /** Even-odd ray cast of the point (`px`, `py`) — dispatches to
    * the native codegen'd [[graft.functions.expressions.RayCast]]
    * (edges hoisted into one stage-shared long[], primitive loop,
    * whole-stage codegen) instead of the HOF form, which allocates
    * the edge-struct array per ROW and interprets a lambda per edge
    * — the VecDot/FingerprintHash escape-hatch precedent. The HOF
    * twin below stays as the executable SPEC of the semantics;
    * GeoOpsSpec proves native == HOF over the complete position
    * orbit. Registration is idempotent on the calling thread's
    * active session. */
  private[operators] def insideExpr(verts: Seq[(Long, Long)],
      px: Column, py: Column): Column = {
    graft.functions.GraftFunctions.ensureRegistered(
      org.apache.spark.sql.SparkSession.active)
    val flat = polyEdges(verts)
      .flatMap { case (x1, y1, x2, y2) => Seq(x1, y1, x2, y2) }
    call_function("ray_cast", px, py, lit(flat.toArray))
  }

  /** The composable-`functions._` ray cast — ONE row-local fold over
    * a literal edge array: a horizontal ray from (px, py) crosses
    * edge (p1, p2) iff the edge spans py vertically (strict/
    * non-strict asymmetry makes shared vertices count once) and the
    * point sits left of the edge at height py — decided
    * integer-exactly by matching the cross-product sign to the
    * edge's y-direction. Kept as the executable SPEC of
    * [[insideExpr]]'s native expression. */
  private[operators] def insideExprHof(
      verts: Seq[(Long, Long)]): org.apache.spark.sql.Column = {
    val edges = polyEdges(verts).map { case (x1, y1, x2, y2) =>
      s"named_struct('x1', ${x1}L, 'y1', ${y1}L," +
        s" 'x2', ${x2}L, 'y2', ${y2}L)"
    }.mkString(", ")
    expr(s"aggregate(array($edges), 0, (acc, e) -> acc + IF(" +
      "(e.y1 > py) != (e.y2 > py) AND" +
      " (((e.x2 - e.x1) * (py - e.y1) - (px - e.x1) * (e.y2 - e.y1))" +
      " > 0) = (e.y2 > e.y1), 1, 0)) % 2 = 1")
  }

  /** The voyage-collapse CTE chain (pos → seg → voy → ends →
    * collapsed) shared by the OD-family oracles (geo_od_matrix,
    * geo_lanes_top, geo_zone_rank, geo_zone_components); the
    * segmentation itself is [[Voyages.segVoySql]]. */
  private def odCtesSql: String =
    s"""WITH pos AS (
       |  SELECT user_id, ts, event_id,
       |    ${Voyages.zoneSql}
       |  FROM events
       |), ${Voyages.segVoySql("pos")}, ends AS (
       |  SELECT user_id, voyage,
       |    first_value(zone) OVER win AS o_zone,
       |    last_value(zone) OVER win AS d_zone
       |  FROM voy WINDOW win AS
       |    (PARTITION BY user_id, voyage ORDER BY ts, event_id
       |     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
       |), collapsed AS (
       |  SELECT user_id, voyage, o_zone, d_zone
       |  FROM ends GROUP BY 1, 2, 3, 4
       |)""".stripMargin

  /** [[zoneRank]] replayed in SQL: the 10 power iterations UNROLLED
    * as chained CTEs (pr0 … pr10) — fixed iteration count, so no
    * recursive CTE is needed and every step is the same integer
    * (r·w) // ow and 150000 + (850000·Σ) // 10⁶ arithmetic the
    * engine runs. */
  private def zoneRankOracle: String = {
    val iter = (i: Int) =>
      s""", pr$i AS (
         |  SELECT n.zone,
         |    CAST(150000 + (850000 * COALESCE(c.s, 0)) // 1000000
         |      AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.d_zone AS zone, sum((p.r * e.w) // e.ow) AS s
         |    FROM e JOIN pr${i - 1} p ON e.o_zone = p.zone
         |    GROUP BY 1) c ON n.zone = c.zone
         |)""".stripMargin
    odCtesSql +
      """, od AS (
        |  SELECT o_zone, d_zone, count(*) AS w
        |  FROM collapsed GROUP BY 1, 2
        |), outw AS (
        |  SELECT o_zone, sum(w) AS ow FROM od GROUP BY 1
        |), e AS (
        |  SELECT od.o_zone, od.d_zone, od.w, outw.ow
        |  FROM od JOIN outw USING (o_zone)
        |), nodes AS (
        |  SELECT DISTINCT zone FROM (
        |    SELECT o_zone AS zone FROM od
        |    UNION ALL SELECT d_zone FROM od) t
        |), pr0 AS (
        |  SELECT zone, CAST(1000000 AS BIGINT) AS r FROM nodes
        |)""".stripMargin +
      (1 to 10).map(iter).mkString +
      "\nSELECT zone, r AS rank_ppm FROM pr10 ORDER BY rank_ppm DESC, zone"
  }

  /** The polygon edge list as a DuckDB VALUES body, GENERATED from
    * [[zonePolygons]] — the oracles' polygon data and the engine's
    * share one definition site. */
  private def edgeValuesSql: String =
    zonePolygons.flatMap { case (z, verts) =>
      polyEdges(verts).map { case (x1, y1, x2, y2) =>
        s"    ('$z', CAST($x1 AS BIGINT), CAST($y1 AS BIGINT)," +
          s" CAST($x2 AS BIGINT), CAST($y2 AS BIGINT))"
      }
    }.mkString(",\n")

  /** The same ray cast as DuckDB SQL (zone membership counts). */
  private def zonePolygonOracle: String =
    s"""WITH pts AS (
       |  SELECT event_id, user_id,
       |    ${Voyages.pxpySql}
       |  FROM events
       |), edges(zone, x1, y1, x2, y2) AS (VALUES
       |$edgeValuesSql
       |), crossings AS (
       |  SELECT p.event_id, p.user_id, e.zone,
       |    sum(CASE WHEN (e.y1 > p.py) <> (e.y2 > p.py)
       |      AND (((e.x2 - e.x1) * (p.py - e.y1)
       |            - (p.px - e.x1) * (e.y2 - e.y1)) > 0) = (e.y2 > e.y1)
       |      THEN 1 ELSE 0 END) AS n_cross
       |  FROM pts p CROSS JOIN edges e
       |  GROUP BY 1, 2, 3
       |)
       |SELECT zone, count(*) AS n_events,
       |  count(DISTINCT user_id) AS n_users
       |FROM crossings WHERE n_cross % 2 = 1
       |GROUP BY zone ORDER BY zone""".stripMargin

  /** The same ray cast + rising-edge entry count as DuckDB SQL: an
    * independent formulation of the same funnel of CTEs (the lag
    * window runs over EVERY (event, zone) pair, as in the engine). */
  private def zoneEntriesOracle: String =
    s"""WITH pts AS (
       |  SELECT event_id, user_id, ts,
       |    ${Voyages.pxpySql}
       |  FROM events
       |), edges(zone, x1, y1, x2, y2) AS (VALUES
       |$edgeValuesSql
       |), ins AS (
       |  SELECT p.event_id, p.user_id, p.ts, e.zone,
       |    sum(CASE WHEN (e.y1 > p.py) <> (e.y2 > p.py)
       |      AND (((e.x2 - e.x1) * (p.py - e.y1)
       |            - (p.px - e.x1) * (e.y2 - e.y1)) > 0) = (e.y2 > e.y1)
       |      THEN 1 ELSE 0 END) % 2 = 1 AS inside
       |  FROM pts p CROSS JOIN edges e
       |  GROUP BY 1, 2, 3, 4
       |), seq AS (
       |  SELECT zone, user_id, inside,
       |    lag(inside) OVER (PARTITION BY zone, user_id
       |      ORDER BY ts, event_id) AS prev_in
       |  FROM ins
       |)
       |SELECT zone, count(*) AS n_entries,
       |  count(DISTINCT user_id) AS n_users
       |FROM seq WHERE inside AND (prev_in IS NULL OR NOT prev_in)
       |GROUP BY zone ORDER BY zone""".stripMargin

  /** Per-vertex triangle counts over a canonical (u1 < u2, distinct)
    * edge set — geo_triangles' body, package-visible so PropertySpec
    * can prove the degree-ordered orientation against a brute-force
    * reference on random graphs. */
  private[operators] def triangleCounts(edges: DataFrame): DataFrame = {
    val deg = edges
      .select(explode(array(col("u1"), col("u2"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val withDeg = edges
      .join(deg.select(col("v").as("u1"), col("deg").as("d1")), "u1")
      .join(deg.select(col("v").as("u2"), col("deg").as("d2")), "u2")
    val oriented = withDeg.select(
      when(col("d1") < col("d2")
        || (col("d1") === col("d2") && col("u1") < col("u2")),
        struct(col("u1").as("src"), col("u2").as("dst")))
        .otherwise(struct(col("u2").as("src"), col("u1").as("dst")))
        .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    val wedges = oriented.alias("e1")
      .join(oriented.alias("e2"),
        col("e1.src") === col("e2.src")
          && col("e1.dst") < col("e2.dst"))
      .select(col("e1.src").as("apex"),
        col("e1.dst").as("v"), col("e2.dst").as("w"))
    wedges
      .join(edges,
        col("v") === col("u1") && col("w") === col("u2"), "left_semi")
      .select(explode(array(col("apex"), col("v"), col("w")))
        .as("user_id"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_triangles"))
      .orderBy("user_id")
  }

  /** Co-presence pairs over any positioned frame (user_id, lat, lon,
    * ts) at a given grid size. Split out + package-visible so the
    * hot-cell spec can measure candidate volume at different grid
    * sizes on synthetic dense traffic. */
  private[operators] def coPresence(pos: DataFrame,
      cellDeg: Double): DataFrame =
    coPresenceFrom(presenceCells(pos, cellDeg))

  /** coPresence over an already-built (user_id, zone, hr) cells
    * frame. Split out in the r19 optimization round so the declared
    * queries can pass the SHARED cached cells ([[cells30]]): the
    * un-persisted self-join duplicated the whole events-scan +
    * distinct lineage per side — the before plan shows two scans and
    * two distinct aggregates (plans/r19/geo_co_presence_before.txt).
    * Both sides project EVERY column to side-unique names — the
    * dedup_near ambiguous-self-join discipline (two projections of
    * one cached frame must not rely on Spark's trivially-true
    * predicate rescue). */
  private[operators] def coPresenceFrom(cells: DataFrame): DataFrame = {
    val a = cells.select(col("user_id").as("u1"), col("zone").as("z1"),
      col("hr").as("hr1"))
    val b = cells.select(col("user_id").as("u2"), col("zone").as("z2"),
      col("hr").as("hr2"))
    a.join(b, col("z1") === col("z2") && col("hr1") === col("hr2")
        && col("u1") < col("u2"))
      .groupBy("u1", "u2")
      .agg(count(lit(1)).as("n_meet"))
      .orderBy("u1", "u2")
  }

  /** Meeting streaks over any positioned frame: gaps-and-islands over
    * each co-present pair's distinct meeting hours (hour index minus
    * row_number is constant within a consecutive run). Package-visible
    * so the spec can prove the islanding on synthetic convoys — the
    * fixtures' sparse traffic never produces a multi-hour streak. */
  private[operators] def meetingStreaks(pos: DataFrame,
      cellDeg: Double): DataFrame =
    meetingStreaksFrom(presenceCells(pos, cellDeg))

  /** meetingStreaks over an already-built cells frame — split out for
    * the same shared-cache reason as [[coPresenceFrom]] (this query's
    * un-persisted self-join also ran the cells build twice). */
  private[operators] def meetingStreaksFrom(cells: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val a = cells.select(col("user_id").as("u1"), col("zone").as("z1"),
      col("hr").as("hr1"))
    val b = cells.select(col("user_id").as("u2"), col("zone").as("z2"),
      col("hr").as("hr2"))
    val meets = a.join(b, col("z1") === col("z2")
        && col("hr1") === col("hr2") && col("u1") < col("u2"))
      .select(col("u1"), col("u2"),
        expr("unix_micros(hr1) div 3600000000").as("hidx"))
      .distinct()
    val w = Window.partitionBy("u1", "u2").orderBy("hidx")
    meets
      .withColumn("island", col("hidx") - row_number().over(w))
      .groupBy("u1", "u2", "island")
      .agg(count(lit(1)).as("streak"))
      .groupBy("u1", "u2")
      .agg(max("streak").as("max_streak"), sum("streak").as("n_hours"))
      .orderBy("u1", "u2")
  }

  /** Distinct (user, zone, hour) presence cells — the self-join input
    * whose per-cell occupancy bounds candidate volume. The zone is
    * the PACKED long ([[Geo.gridCellId]]), not the readable string:
    * it exists only as a join/agg key inside coPresence and
    * meetingStreaks (no consumer outputs it), and a long key halves
    * the distinct+join hashing cost against a ~10-char string. */
  private[operators] def presenceCells(pos: DataFrame,
      cellDeg: Double): DataFrame = pos
    .withColumn("zone", Geo.gridCellId(col("lat"), col("lon"), cellDeg))
    .withColumn("hr", date_trunc("hour", col("ts")))
    .select("user_id", "zone", "hr").distinct()

  /** The shared 30°-grid presence cells (the graded cellDeg),
    * persisted per (session, dir): both sides of the co-presence and
    * meeting-streak self-joins read it, across FOUR references in two
    * queries (r19 optimization round — previously each side rebuilt
    * the events-scan + distinct pipeline). */
  private def cells30(s: SparkSession, d: String): DataFrame =
    graft.Cache.cached(s, d, "geo.cells30")(
      presenceCells(Voyages.withPos(Tables.events(s, d)), cellDeg = 30.0))

  val oracles: Map[String, String] = Map(
    // Mirrors Geo.haversineKm arithmetic exactly:
    // radians(Δ)/2 inside sin, pow(·, 2), 2·R·asin(sqrt(a)).
    "geo_track_length" ->
      s"""WITH pos AS (
        |  SELECT user_id, ts, event_id,
        |    ${Voyages.posSql}
        |  FROM events
        |), hops AS (
        |  SELECT user_id, lat, lon,
        |    lag(lat) OVER win AS prev_lat,
        |    lag(lon) OVER win AS prev_lon
        |  FROM pos
        |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)
        |)
        |SELECT user_id, count(*) AS n_points,
        |  round(sum(CASE WHEN prev_lat IS NULL THEN 0.0 ELSE
        |    2 * 6371.0088 * asin(sqrt(
        |      pow(sin(radians(lat - prev_lat) / 2), 2) +
        |      cos(radians(prev_lat)) * cos(radians(lat)) *
        |      pow(sin(radians(lon - prev_lon) / 2), 2)))
        |  END), 3) AS track_km
        |FROM hops GROUP BY user_id ORDER BY user_id""".stripMargin,

    "geo_zone_counts" ->
      s"""SELECT
        |  ${Voyages.zoneSql},
        |  count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1 ORDER BY zone""".stripMargin,

    "geo_od_matrix" -> (odCtesSql +
      """
        |SELECT o_zone, d_zone, count(*) AS n_voyages,
        |  count(DISTINCT user_id) AS n_vessels
        |FROM collapsed GROUP BY 1, 2
        |ORDER BY o_zone, d_zone""".stripMargin),

    "geo_zone_rank" -> zoneRankOracle,

    // Undirected transitive closure from the same collapsed-voyage
    // CTEs (the dedup_clusters recursive idiom); component = min
    // reachable zone. Nodes seed from ALL lanes (a self-lane-only
    // zone is its own component); edges exclude self-lanes.
    "geo_zone_components" ->
      (odCtesSql.replaceFirst("WITH ", "WITH RECURSIVE ") +
        """, od AS (
          |  SELECT o_zone, d_zone FROM collapsed GROUP BY 1, 2
          |), zn AS (
          |  SELECT DISTINCT zone FROM (
          |    SELECT o_zone AS zone FROM od
          |    UNION ALL SELECT d_zone FROM od) t
          |), ze AS (
          |  SELECT o_zone AS a, d_zone AS b FROM od
          |  WHERE o_zone <> d_zone
          |  UNION SELECT d_zone, o_zone FROM od WHERE o_zone <> d_zone
          |), reach(n, m) AS (
          |  SELECT zone, zone FROM zn
          |  UNION
          |  SELECT r.n, e.b FROM reach r JOIN ze e ON r.m = e.a
          |), lab AS (
          |  SELECT n AS zone, min(m) AS component FROM reach GROUP BY n
          |), sizes AS (
          |  SELECT component AS c2, count(*) AS csize FROM lab GROUP BY 1
          |)
          |SELECT zone, component, csize
          |FROM lab JOIN sizes ON component = c2
          |ORDER BY zone""".stripMargin),

    "geo_voyages" ->
      s"""WITH pos AS (
        |  SELECT user_id, ts, event_id,
        |    ${Voyages.posSql}
        |  FROM events
        |), ${Voyages.segVoySql("pos")}, hops AS (
        |  SELECT user_id, voyage, lat, lon,
        |    lag(lat) OVER win AS prev_lat,
        |    lag(lon) OVER win AS prev_lon
        |  FROM voy WINDOW win AS
        |    (PARTITION BY user_id, voyage ORDER BY ts, event_id)
        |)
        |SELECT user_id, CAST(voyage AS BIGINT) AS voyage,
        |  count(*) AS n_points,
        |  round(sum(CASE WHEN prev_lat IS NULL THEN 0.0 ELSE
        |    2 * 6371.0088 * asin(sqrt(
        |      pow(sin(radians(lat - prev_lat) / 2), 2) +
        |      cos(radians(prev_lat)) * cos(radians(lat)) *
        |      pow(sin(radians(lon - prev_lon) / 2), 2)))
        |  END), 3) AS voyage_km
        |FROM hops GROUP BY user_id, voyage
        |ORDER BY user_id, voyage""".stripMargin,

    // Mirrors Geo.bearingDeg op-for-op: y = sin(dLon)·cos(lat2),
    // x = cos(lat1)·sin(lat2) − sin(lat1)·cos(lat2)·cos(dLon),
    // bearing = pmod(degrees(atan2(y, x)), 360) with Spark's pmod
    // spelled as fmod(fmod(v, 360) + 360, 360).
    "geo_headings" ->
      s"""WITH pos AS (
        |  SELECT user_id, ts, event_id,
        |    ${Voyages.posSql}
        |  FROM events
        |), hops AS (
        |  SELECT user_id, lat, lon,
        |    lag(lat) OVER win AS plat,
        |    lag(lon) OVER win AS plon
        |  FROM pos
        |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sect AS (
        |  SELECT user_id,
        |    CAST(floor(round(fmod(fmod(degrees(atan2(
        |      sin(radians(lon - plon)) * cos(radians(lat)),
        |      cos(radians(plat)) * sin(radians(lat)) -
        |        sin(radians(plat)) * cos(radians(lat)) *
        |        cos(radians(lon - plon))
        |    )), 360) + 360, 360), 3) / 45) AS BIGINT) % 8 AS sector
        |  FROM hops WHERE plat IS NOT NULL
        |), cnt AS (
        |  SELECT user_id, sector, count(*) AS n_hops
        |  FROM sect GROUP BY 1, 2
        |), ranked AS (
        |  SELECT user_id, sector, n_hops,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY n_hops DESC, sector) AS rk,
        |    sum(n_hops) OVER (PARTITION BY user_id) AS total
        |  FROM cnt
        |)
        |SELECT user_id, sector AS modal_sector, n_hops AS sector_hops,
        |  CAST(total AS BIGINT) AS total_hops
        |FROM ranked WHERE rk = 1 ORDER BY user_id""".stripMargin,

    // Mirrors the haversine arithmetic of the other geo oracles; the
    // gap is integer µs on both engines.
    "geo_speed_flags" ->
      s"""WITH pos AS (
        |  SELECT user_id, ts, event_id,
        |    ${Voyages.posSql}
        |  FROM events
        |), ${Voyages.segSql("pos")}, hops AS (
        |  SELECT user_id, lat, lon,
        |    lag(lat) OVER win AS plat,
        |    lag(lon) OVER win AS plon,
        |    gap_us
        |  FROM seg
        |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), spd AS (
        |  SELECT user_id,
        |    (2 * 6371.0088 * asin(sqrt(
        |      pow(sin(radians(lat - plat) / 2), 2) +
        |      cos(radians(plat)) * cos(radians(lat)) *
        |      pow(sin(radians(lon - plon) / 2), 2))))
        |      / (gap_us / 3600000000.0) AS speed_kmh
        |  FROM hops WHERE plat IS NOT NULL AND gap_us > 0
        |)
        |SELECT user_id, count(*) AS n_hops,
        |  CAST(count(CASE WHEN speed_kmh > 500.0 THEN 1 END) AS BIGINT)
        |    AS n_impossible,
        |  round(CAST(count(CASE WHEN speed_kmh > 500.0 THEN 1 END)
        |      AS DOUBLE) / count(*), 4) AS bad_ratio
        |FROM spd GROUP BY user_id ORDER BY user_id""".stripMargin,

    "geo_zone_polygon" -> zonePolygonOracle,

    "geo_zone_entries" -> zoneEntriesOracle,

    // Same islanding formulation; DuckDB's sum is HUGEINT — cast back
    // to BIGINT to match Spark's long.
    "geo_meeting_streaks" ->
      s"""WITH pos AS (
        |  ${Voyages.presenceSql}
        |), meets AS (
        |  SELECT DISTINCT a.user_id AS u1, b.user_id AS u2,
        |    epoch_us(a.hr) // 3600000000 AS hidx
        |  FROM pos a JOIN pos b
        |    ON a.zone = b.zone AND a.hr = b.hr AND a.user_id < b.user_id
        |), isl AS (
        |  SELECT u1, u2, hidx,
        |    hidx - row_number() OVER (PARTITION BY u1, u2
        |      ORDER BY hidx) AS island
        |  FROM meets
        |), streaks AS (
        |  SELECT u1, u2, island, count(*) AS streak
        |  FROM isl GROUP BY 1, 2, 3
        |)
        |SELECT u1, u2, CAST(max(streak) AS BIGINT) AS max_streak,
        |  CAST(sum(streak) AS BIGINT) AS n_hours
        |FROM streaks GROUP BY 1, 2 ORDER BY u1, u2""".stripMargin,

    // Mirrors geo_zone_dwell: zone of the earlier report, integer µs
    // gaps, whole-second integer division (DuckDB's sum is HUGEINT —
    // cast back to BIGINT to match Spark's long). A hop within a
    // voyage (is_new = 0) is exactly a hop with a predecessor and a
    // gap of at most 30 minutes.
    "geo_zone_dwell" ->
      s"""WITH zoned AS (
        |  SELECT user_id, ts, event_id,
        |    ${Voyages.zoneSql}
        |  FROM events
        |), ${Voyages.segSql("zoned")}, hops AS (
        |  SELECT user_id, is_new, gap_us,
        |    lag(zone) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS zone
        |  FROM seg
        |)
        |SELECT user_id, zone,
        |  CAST(sum(gap_us) // 1000000 AS BIGINT) AS dwell_s,
        |  count(*) AS n_hops
        |FROM hops WHERE is_new = 0
        |GROUP BY 1, 2 ORDER BY user_id, zone""".stripMargin,

    // Independent formulation: canonical (a<b<c) 3-way self-join —
    // no orientation, each triangle materialized exactly once.
    "geo_triangles" ->
      s"""WITH pos AS (
        |  ${Voyages.presenceSql}
        |), pairs AS (
        |  SELECT a.user_id AS u1, b.user_id AS u2
        |  FROM pos a JOIN pos b
        |    ON a.zone = b.zone AND a.hr = b.hr AND a.user_id < b.user_id
        |  GROUP BY 1, 2
        |), tri AS (
        |  SELECT e1.u1 AS a, e1.u2 AS b, e3.u2 AS c
        |  FROM pairs e1
        |  JOIN pairs e2 ON e2.u1 = e1.u2
        |  JOIN pairs e3 ON e3.u1 = e1.u1 AND e3.u2 = e2.u2
        |)
        |SELECT user_id, count(*) AS n_triangles FROM (
        |  SELECT a AS user_id FROM tri
        |  UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri
        |) t GROUP BY 1 ORDER BY user_id""".stripMargin,

    "geo_lanes_top" -> (odCtesSql +
      """
        |SELECT o_zone, d_zone, count(*) AS n_voyages,
        |  count(DISTINCT user_id) AS n_vessels
        |FROM collapsed WHERE o_zone <> d_zone
        |GROUP BY 1, 2
        |ORDER BY n_voyages DESC, o_zone, d_zone LIMIT 20""".stripMargin),

    "geo_co_presence" ->
      s"""WITH pos AS (
        |  ${Voyages.presenceSql}
        |)
        |SELECT a.user_id AS u1, b.user_id AS u2, count(*) AS n_meet
        |FROM pos a JOIN pos b
        |  ON a.zone = b.zone AND a.hr = b.hr AND a.user_id < b.user_id
        |GROUP BY 1, 2 ORDER BY u1, u2""".stripMargin
  )
}
