package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-scoped memo of persisted intermediates, with explicit
  * release.
  *
  * Several operators share expensive midpoints — the scored half-pair
  * set feeds both brute-force similarity queries and the exact
  * embedding dedup; the shingle set feeds three dedup variants; the
  * LSH bucket index feeds both ANN search and embedding dedup.
  * Building them once per (session, sf-dir) and persisting turns
  * "3 queries × full recompute" into "1 compute + 2 cache reads",
  * which is exactly what a real engine's materialized-index layer
  * does.
  *
  * MEMORY_AND_DISK: these intermediates are bounded (narrow pair rows,
  * signatures, centroids), but at a larger SF spilling beats OOM.
  *
  * Lifetime: entries live until [[clear]] — there is no magic
  * collection. (A WeakHashMap keyed by session cannot work here: the
  * cached DataFrames strongly reference their session via
  * `Dataset.sparkSession`, so the weak key would always be reachable
  * through its own value.) Callers that run many queries in one
  * session — Bench, long-lived services — must `clear` once a cache
  * group's consumers are done, or persisted blocks accumulate for the
  * session's lifetime. As a safety net, entries whose SparkContext
  * has stopped are dropped on the next `cached` call.
  */
object Cache {
  private val memo = scala.collection.mutable.LinkedHashMap
    .empty[(SparkSession, String, String), DataFrame]

  /** Memoize `build` (persisted) under (session, dir, name). The
    * build is run at most once per key: construction is serialized,
    * so two racing first callers cannot leave an orphaned persisted
    * plan behind. */
  def cached(s: SparkSession, dir: String, name: String)
      (build: => DataFrame): DataFrame = memo.synchronized {
    // Drop entries of stopped sessions — their blocks already died
    // with the SparkContext; this frees the plan graphs (and the
    // session references the key holds) without needing weak refs.
    memo.filterInPlace((k, _) => !k._1.sparkContext.isStopped)
    attachedFp.filterInPlace((k, _) => !k._1.sparkContext.isStopped)
    memo.getOrElseUpdate((s, dir, name),
      build.persist(StorageLevel.MEMORY_AND_DISK))
  }

  /** Unpersist and forget this session's entries whose name starts
    * with `prefix` (empty prefix = everything). Safe to call at any
    * point — consumers re-build on next use. */
  def clear(s: SparkSession, prefix: String = ""): Unit =
    memo.synchronized {
      val doomed = memo.keys
        .filter(k => (k._1 eq s) && k._3.startsWith(prefix)).toSeq
      doomed.foreach { k =>
        memo.remove(k).foreach(df =>
          try df.unpersist(blocking = false)
          catch { case _: Throwable => () })
      }
    }

  /** Release schedule for a pass over the declared queries in SORTED
    * name order: after the keyed query completes, the listed prefixes
    * have no further consumers. "" = everything (sim.vecs /
    * sim.halfPairs live until the last similarity query). Bench and
    * Verify both follow it, so persisted blocks from the heavy
    * similarity/dedup cluster don't inflate every query after it. */
  private[graft] val releaseSchedule: Map[String, Seq[String]] = Map(
    "ann_ivf" -> Seq("sim.ivf"),
    "dedup_embed_ann" -> Seq("sim.lsh"),
    "dedup_near" -> Seq("dedup."),
    // r19 optimization round: caches BUILT after their family's
    // release point (sorted order) get their own release entries so
    // persisted blocks never outlive their last consumer.
    "dedup_paragraphs" -> Seq("dedup.paraChunks"),
    "dedup_simhash" -> Seq("dedup.simSigs"),
    "events_concurrency" -> Seq("events."),
    "geo_zone_rank" -> Seq("geo."),
    "pipeline_corpus_prep" -> Seq("pipeline."),
    "pipeline_shard_manifest" -> Seq("pipeline."),
    "text_contamination" -> Seq("text."),
    "text_pack_bins" -> Seq("text.packIntra"),
    "similarity_topk_per_query" -> Seq(""))

  /** Release the groups whose last consumer (sorted order) is
    * `query`. A cleared group rebuilds identical rows on next use
    * (CacheParitySpec), so releasing early never changes results. */
  def releaseAfter(s: SparkSession, query: String): Unit =
    releaseSchedule.getOrElse(query, Nil).foreach(clear(s, _))

  /** Disk-backed [[cached]]: the built frame is ALSO persisted as a
    * bucketed, sorted external parquet table under /tmp, and every
    * later entry — after a [[clear]], or under a fresh SparkContext
    * in this process — READS the artifact instead of re-running the
    * build lineage.
    *
    * This is the index-layer contract a 100-TB deployment actually
    * has: an LSH/IVF index is built once by an indexing job and
    * persisted; query jobs open it. Before r17 the ANN indexes lived
    * only in the session cache, so the bench's release schedule made
    * every timed pass pay the full signature/Lloyd build (measured
    * r16: ann_ivf warm 2.3–2.7 s of which ~2 s was rebuild vs a
    * 0.57 s steady-state query). The artifact turns that rebuild
    * into a bucketed parquet scan.
    *
    * Bucketing is part of the contract, not a convenience: the
    * artifact is CLUSTERED BY the key its consumers partition on (the
    * LSH and IVF indexes: vec_id, so a query vector's rows stay in one
    * partition through the candidate join; the pair graph: d1; a
    * shard's top-k: v1; the per-vessel track `geo.track`: user_id, so
    * the per-vessel hop aggregates, geo_headings' modal windows and
    * the OD endpoint aggregate run on the scan's partitioning), so
    * that side arrives pre-partitioned and pays NO exchange. An
    * artifact holds only what its consumers cannot derive
    * row-locally: `geo.track` is seven integer columns (user_id,
    * event_id, prev_id, gap_us, voyage, is_new, ends), and the
    * position, zone and px/py of both ends of a hop, pure functions
    * of an event_id, are re-derived after the scan.
    *
    * The bucket COUNT is the writing session's default parallelism:
    * one wave of tasks, recorded in the version's `meta` and read back
    * on attach, so every process knows the layout the files were
    * written with. Each bucket is one file and one task of every later
    * scan, and also the task count of every consumer that partitions
    * on the bucket key: Spark accepts the scan's partitioning for a
    * window or aggregate on vec_id however few buckets it has. So a
    * count below one wave leaves cores idle (a 1-bucket LSH or IVF
    * index ran ann_lsh's, ann_ivf's and dedup_embed_ann's candidate
    * ranking in one task: llm_corpus warm 3.1–3.7 s → 7.4–11.9 s per
    * query, sf0.1, 4 cores), and a count above it pays extra waves at
    * every open (the fixed 32 buckets this replaced wrote the 34 KB
    * `dedup.pairs` artifact of sf0.1 as a 32-task stage, 8 waves on 4
    * cores, and made each open a 32-task scan: 128 of a warm
    * `lanes_corpus` pass's 161 tasks). No artifact measured so far
    * comes near one wave of 64 MB partitions (the largest, the IVF
    * index of the 10x ScalingBench dir, is 37 MB of parquet), so the
    * count has no size term. A reader with more cores than the writer declares the
    * table unbucketed ([[declaredBuckets]]): its consumers then pay
    * one exchange at the reader's width instead of running in the
    * writer's few tasks.
    *
    * Freshness: a meta file pins the artifact to a fingerprint
    * (file count : bytes : max mtime) of the source parquet it was
    * derived from — a regenerated fixture rebuilds, same-source
    * re-entry reads.
    *
    * CROSS-PROCESS since r18: artifacts live under ONE shared path
    * and are published atomically, so the indexing-job/query-job
    * split holds across JVMs — a second driver process re-opens the
    * index the first one wrote (r17 scoped the scratch per-PID, which
    * made every new process rebuild). The publish protocol is the
    * standard immutable-snapshot one:
    *
    *   1. each artifact VERSION is a directory named by the hash of
    *      its source fingerprint — versions are immutable, so readers
    *      never observe in-place mutation;
    *   2. a builder writes data into a private `.tmp_<pid>_<nonce>`
    *      dir, writes `meta` (fingerprint, bucket count, schema DDL)
    *      LAST, then atomically rename(2)s the whole dir into place —
    *      a version dir that exists is therefore always complete, and
    *      a crashed builder leaves only an unreferenced temp dir
    *      (GC'd after an hour by the next builder);
    *   3. losing a publish race is benign: the mover that finds the
    *      destination already present VALIDATES the winner's meta
    *      against its own fingerprint and adopts it, discarding its
    *      duplicate build;
    *   4. every reader re-checks the version's recorded fingerprint
    *      before attaching (never trusts the path name alone), so a
    *      hash collision or torn artifact reads as absent, not wrong.
    *
    * Catalog entries are per-JVM (in-memory catalog): each process
    * attaches the shared files via CREATE TABLE … CLUSTERED BY …
    * LOCATION from the schema and bucket count stored in meta; the
    * table name embeds the fingerprint hash and the recorded bucket
    * count, so a stale catalog entry can never alias a different
    * version's files or declare another bucket spec. An attach that
    * finds its table registered drops the catalog's cached relation
    * first: the SAME version may have been rebuilt since (its dir
    * deleted under a live session and republished by this or another
    * process), and the cached relation lists the deleted files.
    * Superseded version dirs are deleted after a successful publish —
    * they are unreachable for any process that fingerprints the
    * current source, and an in-flight scan of one survives on POSIX
    * unlink semantics.
    *
    * The returned frame still goes through [[cached]] (persisted
    * MEMORY_AND_DISK): repeated consumers inside one query pass hit
    * memory; a clear() drops memory only and the next entry re-opens
    * the table.
    *
    * Long-lived readers across a source REGENERATION (r18 advice):
    * a session that attached version v_old keeps a memoized frame
    * over v_old's files, and once another process publishes v_new the
    * builder-side GC deletes v_old after its grace period — the old
    * session's next query would list vanished files. So every
    * diskBacked ENTRY re-fingerprints the source (a driver-side FS
    * listing, no job — the same listing ensureArtifact already does)
    * and, when the fingerprint moved, drops the stale memo entry and
    * re-attaches the current version. A long-lived session therefore
    * follows regenerations automatically instead of needing a manual
    * Cache.clear; the only residual window is a scan already
    * IN FLIGHT when the GC fires, which the 10-minute grace bounds
    * (see [[gcStale]]). */
  def diskBacked(s: SparkSession, dir: String, name: String,
      sourceTable: String, bucketCols: Seq[String])
      (build: => DataFrame): DataFrame = {
    val key = (s, dir, name)
    val fp = layoutFp(s, s"$dir/$sourceTable")
    memo.synchronized {
      if (attachedFp.get(key).exists(_ != fp)) {
        memo.remove(key).foreach(df =>
          try df.unpersist(blocking = false)
          catch { case _: Throwable => () })
        attachedFp.remove(key)
      }
    }
    val out = cached(s, dir, name)(
      ensureArtifact(s, dir, name, sourceTable, bucketCols)(build))
    memo.synchronized { attachedFp(key) = fp }
    out
  }

  /** Source fingerprint each live diskBacked memo entry was attached
    * under — consulted on every entry so a stale attachment is
    * replaced before its files can vanish under it. */
  private val attachedFp = scala.collection.mutable.Map
    .empty[(SparkSession, String, String), String]

  private val pid = ProcessHandle.current().pid()
  private def san(x: String): String = x.replaceAll("[^A-Za-z0-9]", "_")

  /** Source fingerprint: recursive (count:bytes:maxMtime) of the
    * source parquet dir or file — a driver-side listing, no job. A
    * local source is walked through the JDK: Hadoop's `listFiles`
    * builds a `LocatedFileStatus` per file, whose permission load
    * forks an `ls -ld` per file when libhadoop is missing, on every
    * diskBacked entry. Both listings count the same files, skipping
    * the hidden `.<name>.crc` checksums Hadoop's local file system
    * hides (CacheSpec compares them), so versions published under
    * either stay valid. */
  private[graft] def fingerprint(s: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(s.sessionState.newHadoopConf()) match {
      case fs: org.apache.hadoop.fs.LocalFileSystem =>
        localFingerprint(fs.pathToFile(p).toPath)
      case fs => listedFingerprint(fs, p)
    }
  }

  /** [[fingerprint]] through Hadoop's recursive `listFiles`. */
  private[graft] def listedFingerprint(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): String =
    if (!fs.exists(p)) "absent"
    else {
      val it = fs.listFiles(p, true)
      var n = 0L; var bytes = 0L; var mt = 0L
      while (it.hasNext) {
        val f = it.next()
        n += 1; bytes += f.getLen
        mt = math.max(mt, f.getModificationTime)
      }
      s"$n:$bytes:$mt"
    }

  /** [[fingerprint]] of a local path through `java.nio`, following
    * links as Hadoop's local file system does. */
  private def localFingerprint(p: java.nio.file.Path): String =
    if (!java.nio.file.Files.exists(p)) "absent"
    else {
      import java.nio.file.{FileVisitResult, Files, Path => JPath}
      import java.nio.file.attribute.BasicFileAttributes
      var n = 0L; var bytes = 0L; var mt = 0L
      Files.walkFileTree(p,
        java.util.EnumSet.of(java.nio.file.FileVisitOption.FOLLOW_LINKS),
        Int.MaxValue, new java.nio.file.SimpleFileVisitor[JPath] {
          override def visitFile(f: JPath,
              a: BasicFileAttributes): FileVisitResult = {
            val name = f.getFileName.toString
            if (!a.isDirectory && !(name.startsWith(".") &&
                name.endsWith(".crc"))) {
              n += 1; bytes += a.size
              mt = math.max(mt, a.lastModifiedTime.toMillis)
            }
            FileVisitResult.CONTINUE
          }
        })
      s"$n:$bytes:$mt"
    }

  /** Layout-versioned source fingerprint. "v5:" = artifact LAYOUT
    * version (v2: one file per bucket since the writeBucketed
    * repartition fix; v3: the writer's bucket count recorded in
    * meta; v4: `geo.track` holds prev_id and gap_us instead of ord;
    * v5: `sim.ivf.ranked` drops its unread pcos column) — bumping it
    * invalidates artifacts written under an older layout even when
    * the source fingerprint still matches. A change
    * to any artifact's output schema bumps the tag, or a version an
    * older build published for the same source is attached with its
    * old columns. */
  private def layoutFp(s: SparkSession, path: String): String =
    "v5:" + fingerprint(s, path)

  /** The bucket count `s` writes an artifact with: one wave of its
    * tasks (see [[diskBacked]]). A build that partitions its frame on
    * the bucket columns into this many partitions spares the write
    * its own repartition. */
  private[graft] def writeBuckets(s: SparkSession): Int =
    s.sparkContext.defaultParallelism

  /** The bucket count a reader with `parallelism` cores declares for
    * an artifact written as `recorded` buckets: the recorded count
    * when it fills the reader's wave, else none, so a narrower
    * writer's layout never caps a wider reader's consumers at the
    * writer's task count (see [[diskBacked]]). */
  private[graft] def declaredBuckets(recorded: Int,
      parallelism: Int): Option[Int] =
    Some(recorded).filter(_ >= parallelism)

  /** Root under which all processes share index artifacts. A val so
    * tests can read it; the layout below it is
    * `<san(dir)>/<san(name)>/v_<fpHash>/{data,meta}`. */
  val SharedRoot = "/tmp/graft_index/shared"

  /** The directory under [[SharedRoot]] that holds every artifact
    * derived from the sources in `dir`. */
  private[graft] def sharedRootOf(dir: String): java.nio.file.Path =
    java.nio.file.Paths.get(SharedRoot, san(dir))

  private def sha12(x: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(x.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(6).map(b => f"$b%02x").mkString

  /** The version's stored (bucket count, schema DDL) when its meta
    * records exactly `fp` — the reader-side validation step: a version
    * dir is used only if its own meta re-states the fingerprint the
    * reader just computed (path names are never trusted). Meta is
    * `fp \n buckets \n schemaDdl`. */
  private def validMeta(verDir: java.nio.file.Path,
      fp: String): Option[(Int, String)] = {
    val metaPath = verDir.resolve("meta")
    if (!java.nio.file.Files.exists(metaPath)) None
    else {
      val m = new String(java.nio.file.Files.readAllBytes(metaPath),
        java.nio.charset.StandardCharsets.UTF_8)
      m.split("\n", 3) match {
        case Array(`fp`, b, ddl) if b.toIntOption.exists(_ >= 1) =>
          Some((b.toInt, ddl))
        case _ => None
      }
    }
  }

  /** Deletes `p` and everything below it, best effort. */
  private[graft] def deleteRecursively(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(f =>
          try java.nio.file.Files.deleteIfExists(f)
          catch { case _: java.io.IOException => () })
    }

  /** Register `table` over the published files, bucketed by
    * `bucketCols` into `buckets` when given. A table this catalog
    * already holds is re-listed instead: callers attach only when
    * their memo entry is gone, and the files may have been
    * republished since the catalog cached the relation. */
  private def attach(s: SparkSession, table: String, schemaDdl: String,
      bucketCols: Seq[String], buckets: Option[Int],
      dataPath: String): DataFrame = {
    if (s.catalog.tableExists(table))
      s.sessionState.catalog.invalidateCachedTable(
        org.apache.spark.sql.catalyst.TableIdentifier(table))
    else {
      val cols = bucketCols.mkString(", ")
      val clustered = buckets.fold("")(n =>
        s"CLUSTERED BY ($cols) SORTED BY ($cols) INTO $n BUCKETS ")
      s.sql(s"CREATE TABLE $table ($schemaDdl) USING PARQUET " +
        s"${clustered}LOCATION '$dataPath'")
    }
    s.table(table)
  }

  /** Build-if-absent for the on-disk index artifact, with the atomic
    * cross-process publish protocol described on [[diskBacked]].
    * Synchronized within the JVM (builds are rare and in-process
    * writers must not interleave); cross-process races resolve at the
    * rename(2). */
  private def ensureArtifact(s: SparkSession, dir: String, name: String,
      sourceTable: String, bucketCols: Seq[String])
      (build: => DataFrame): DataFrame = synchronized {
    val fp = layoutFp(s, s"$dir/$sourceTable")
    val h = sha12(fp)
    val root = sharedRootOf(dir).resolve(san(name))
    val verDir = root.resolve(s"v_$h")
    val table = s"graft_idx_${san(dir)}_${san(name)}_$h"
    val dataPath = s"$verDir/data"
    val parallelism = writeBuckets(s)
    val (recorded, schemaDdl) = validMeta(verDir, fp).getOrElse {
      val df = build
      // Private build dir; `meta` is written LAST so a dir that
      // carries one is complete by construction.
      val tmp = root.resolve(s".tmp_${pid}_${System.nanoTime()}")
      val tmpTable = s"${table}_w$pid"
      s.sql(s"DROP TABLE IF EXISTS $tmpTable")
      graft.sources.IO.writeBucketed(df, tmpTable, parallelism, bucketCols,
        Some(s"$tmp/data"))
      s.sql(s"DROP TABLE $tmpTable") // external: the files survive
      java.nio.file.Files.write(tmp.resolve("meta"),
        s"$fp\n$parallelism\n${df.schema.toDDL}"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      publish(tmp, verDir, fp)
      gcStale(root, keep = verDir.getFileName.toString)
      // A lost publish race adopts the winner's recorded layout.
      validMeta(verDir, fp).getOrElse(throw new IllegalStateException(
        s"diskBacked: $verDir vanished after publish"))
    }
    attach(s, s"${table}_b$recorded", schemaDdl, bucketCols,
      declaredBuckets(recorded, parallelism), dataPath)
  }

  /** Atomically rename the complete temp dir into place. Losing the
    * race to another process's publish is benign: validate the
    * winner's meta and adopt it. A present-but-invalid destination
    * (torn by a pre-protocol crash, or a hash collision) is removed
    * and the move retried, boundedly. */
  private def publish(tmp: java.nio.file.Path,
      verDir: java.nio.file.Path, fp: String): Unit = {
    var attempts = 0
    var done = false
    while (!done) {
      try {
        java.nio.file.Files.move(tmp, verDir,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        done = true
      } catch {
        case e: java.nio.file.FileSystemException
            if java.nio.file.Files.exists(verDir) =>
          if (validMeta(verDir, fp).isDefined) {
            deleteRecursively(tmp) // concurrent publisher won; adopt
            done = true
          } else {
            attempts += 1
            if (attempts > 3) throw new IllegalStateException(
              s"diskBacked: cannot publish $verDir (persistently " +
                "present but invalid)", e)
            deleteRecursively(verDir)
          }
      }
    }
  }

  /** Best-effort scratch GC, run only on the (rare) build path:
    * superseded version dirs are unreachable for any process that
    * fingerprints the CURRENT source, but a cross-process reader that
    * fingerprinted the OLD source may be mid-scan — Spark lists files
    * first and opens them per task, so an unlink between listing and
    * open fails the task (open fds survive unlink; un-opened paths do
    * not). A 10-minute grace on superseded versions bounds that race
    * to scans outliving two fixture generations AND ten minutes —
    * accepted and documented. `.tmp_*` dirs older than an hour are
    * crashed builders (a LIVE builder's temp dir is younger than
    * that — writeBucketed runs in seconds at any fixture SF). */
  private def gcStale(root: java.nio.file.Path, keep: String): Unit =
    try {
      import scala.jdk.CollectionConverters._
      val now = System.currentTimeMillis()
      def olderThan(p: java.nio.file.Path, ms: Long): Boolean =
        java.nio.file.Files.getLastModifiedTime(p).toMillis < now - ms
      java.nio.file.Files.list(root).iterator().asScala.toSeq.foreach {
        p =>
          val n = p.getFileName.toString
          val stale =
            (n.startsWith("v_") && n != keep &&
              olderThan(p, 10L * 60 * 1000)) ||
              (n.startsWith(".tmp_") && olderThan(p, 60L * 60 * 1000))
          if (stale) deleteRecursively(p)
      }
    } catch { case _: java.io.IOException => () }
}
