package graft

import org.apache.spark.sql.Row

/** check.py's `norm` (9 significant digits), applied recursively so
  * nested arrays/structs/maps compare value-wise. One definition for
  * every execution-robustness comparison (ShapeInvarianceSpec,
  * SpillSpec, SortSpillSpec): all invariance claims compare at the
  * oracle's own bar, and the bar cannot drift between harnesses. */
object RowNorm {
  def norm(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN) "nan" else f"$d%.9g"
    case f: Float => norm(f.toDouble)
    case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] =>
      s.map(norm).mkString("[", ",", "]")
    case a: Array[_] => norm(a.toSeq)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${norm(k)}->${norm(x)}" }
        .toSeq.sorted.mkString("{", ",", "}")
    case x => x.toString
  }
}
