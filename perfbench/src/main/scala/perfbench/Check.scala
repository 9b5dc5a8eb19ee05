package perfbench

import scala.jdk.CollectionConverters._

/** Compares a result the engine returned with the expected rows computed
  * independently (DuckDB over the same parquet, or the generator's model
  * of a table). Values are canonicalized to Double, String, Boolean, List
  * or null; doubles compare with a relative tolerance because two engines
  * may sum in a different order. Results of statements with a total ORDER
  * BY compare strictly in order; others compare in order first and, if
  * that fails, as multisets ordered by a rounded key, since their row
  * order is not defined. */
object Check {
  private val relTol = 1e-7

  def canon(v: Any): Any = v match {
    case null => null
    case n: java.math.BigDecimal => n.doubleValue
    case n: java.math.BigInteger => n.doubleValue
    case n: scala.math.BigDecimal => n.toDouble
    case n: Number => n.doubleValue
    case b: java.lang.Boolean => b.booleanValue
    case t: java.sql.Timestamp => stamp(t.toLocalDateTime)
    case t: java.time.LocalDateTime => stamp(t)
    case t: java.time.Instant => stamp(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC))
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case r: org.apache.spark.sql.Row => r.toSeq.map(canon).toList
    case s: scala.collection.Map[_, _] => s.toSeq.map { case (k, x) => List(canon(k), canon(x)) }.toList
    case s: scala.collection.Seq[_] => s.map(canon).toList
    case a: Array[_] => a.toSeq.map(canon).toList
    case m: java.util.Map[_, _] => m.asScala.toSeq.map { case (k, x) => List(canon(k), canon(x)) }.toList
    case l: java.util.List[_] => l.asScala.map(canon).toList
    case s: String => s
    case other => other.toString
  }

  private def stamp(t: java.time.LocalDateTime): String = {
    val base = t.toLocalDate.toString + " " + f"${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d"
    if (t.getNano == 0) base else base + "." + f"${t.getNano / 1000}%06d".reverse.dropWhile(_ == '0').reverse
  }

  /** Does received value `got` match expected value `exp` (both canonical)? */
  def same(exp: Any, got: Any): Boolean = (exp, got) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case (e: Double, g: Double) =>
      e == g || (e.isNaN && g.isNaN) || math.abs(e - g) <= relTol * math.max(1.0, math.max(math.abs(e), math.abs(g)))
    case (e: Double, g: String) => g.toDoubleOption.exists(same(e, _))
    case (e: Boolean, g: Boolean) => e == g
    case (e: Boolean, g: String) => (g == "t" || g == "true") == e && Set("t", "f", "true", "false")(g)
    case (e: List[_], g: List[_]) => e.size == g.size && e.zip(g).forall { case (a, b) => same(a, b) }
    case (e: String, g: String) => e == g
    case (e, g) => e.toString == g.toString
  }

  private def key(row: List[Any]): String = row.map {
    case d: Double => f"$d%.5e"
    case l: List[_] => key(l.asInstanceOf[List[Any]])
    case null => "\u0000"
    case x => x.toString
  }.mkString("\u0001")

  /** None when `got` equals `exp`; otherwise a short description. */
  def rows(exp: Seq[List[Any]], got: Seq[List[Any]], ordered: Boolean): Option[String] = {
    def pairwise(a: Seq[List[Any]], b: Seq[List[Any]]) =
      a.zip(b).forall { case (x, y) => same(x, y) }
    if (exp.size != got.size) Some(s"expected ${exp.size} rows, received ${got.size}")
    else if (pairwise(exp, got) || (!ordered && pairwise(exp.sortBy(key), got.sortBy(key)))) None
    else {
      val i = exp.indices.find(i => !same(exp(i), got(i))).getOrElse(0)
      Some(s"row $i: expected ${exp(i).mkString("|")}, received ${got(i).mkString("|")}")
    }
  }
}
