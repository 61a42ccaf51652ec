package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, count, lit, pmod, sum, xxhash64}

/** Correctness gates. Each returns the problems it found (empty = pass);
  * a run with any problem reports `correct: false` and counts the
  * operation as failed, so a wrong answer is never timed as a success. */
object Gates {

  /** Group-key columns of each KPI view, in the order the generator
    * writes them into expected.tsv. */
  val viewKeys: Map[String, Seq[String]] = Map(
    "kpi_neighbourhood_month" -> Seq("area", "file_year", "file_month"),
    "kpi_neighbourhood_month_raw" -> Seq("area", "file_year", "file_month"),
    "kpi_property_type_month" ->
      Seq("property_type", "room_type", "accommodates", "file_year", "file_month"),
    "kpi_host_month" -> Seq("host_lga", "file_year", "file_month"))

  /** expected.tsv: view -> group key -> column -> value text. */
  type Expected = Map[String, Map[String, Map[String, String]]]

  def loadExpected(path: String): Expected =
    Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8).asScala
      .filter(_.nonEmpty).map(_.split('\t'))
      .groupBy(_(0)).map { case (view, ls) =>
        view -> ls.groupBy(_(1)).map { case (k, cs) => k -> cs.map(c => c(2) -> c(3)).toMap }
      }

  private def keyOf(view: String, r: Row): String =
    viewKeys(view).map(k => String.valueOf(r.getAs[Any](k))).mkString("|")

  private def monthOf(key: String): (Int, Int) = {
    val p = key.split('|')
    (p(p.length - 2).toInt, p(p.length - 1).toInt)
  }

  /** The collected views hold exactly the expected groups, with the
    * expected values, for every (year, month) that `months` admits. */
  def checkViews(exp: Expected, views: Seq[(String, Array[Row])],
                 months: ((Int, Int)) => Boolean = _ => true): Seq[String] =
    views.flatMap { case (view, rows) =>
      val want = exp.getOrElse(view, Map.empty).filter { case (k, _) => months(monthOf(k)) }
      val got = rows.map(r => keyOf(view, r) -> r).filter { case (k, _) => months(monthOf(k)) }
      val gotKeys = got.map(_._1)
      val dupKeys = gotKeys.diff(gotKeys.distinct).distinct.map(k => s"$view: duplicate group $k")
      val extra = gotKeys.toSet.diff(want.keySet).toSeq.sorted.map(k => s"$view: unexpected group $k")
      val missing = want.keySet.diff(gotKeys.toSet).toSeq.sorted.map(k => s"$view: missing group $k")
      val wrong = got.toSeq.flatMap { case (k, r) =>
        want.get(k).toSeq.flatMap(_.toSeq.flatMap { case (c, v) =>
          val i = r.fieldIndex(c)
          val ok =
            if (v == "null") r.isNullAt(i)
            else !r.isNullAt(i) && (r.get(i) match {
              case d: Double => d == v.toDouble
              case n: java.lang.Number => n.longValue.toString == v
              case other => String.valueOf(other) == v
            })
          if (ok) None
          else Some(s"$view $k $c: got ${if (r.isNullAt(i)) "null" else r.get(i)}, expected $v")
        })
      }
      dupKeys ++ extra ++ missing ++ wrong
    }

  /** Two collections of the same views hold the same rows, as multisets. */
  def sameViews(a: Seq[(String, Array[Row])], b: Seq[(String, Array[Row])]): Seq[String] = {
    val bm = b.toMap
    a.flatMap { case (view, rows) =>
      val x = rows.map(_.toString).sorted.toSeq
      val y = bm.get(view).map(_.map(_.toString).sorted.toSeq).getOrElse(Nil)
      if (x == y) None
      else Some(s"$view: ${x.diff(y).length} rows only in the first, ${y.diff(x).length} only in the second")
    }
  }

  /** Row count and an order-independent hash of a query result: the sum
    * over rows of xxhash64(all columns) mod 2^32. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val h = pmod(xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*), lit(1L << 32))
    val r = df.agg(count(lit(1)), sum(h)).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** ops_pins.tsv: query -> (rows, hash). */
  def loadPins(path: String): Map[String, (Long, Long)] =
    Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8).asScala
      .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split('\t'))
      .map(p => p(0) -> (p(1).toLong, p(2).toLong)).toMap
}
