package perfbench

import org.apache.spark.sql.DataFrame

/** Output checks, run outside every timed region. */
object Checks {

  type Ranked = List[(String, Double)]

  /** The 1e-6 rounding the engine's own BM25 tier-equality tests use: the
    * serving tier accumulates in impact order, the batch twin in term
    * order, so scores agree only up to summation order. */
  def r6(x: Double): Double = math.rint(x * 1e6) / 1e6

  def rounded(r: Ranked): Ranked = r.map { case (u, s) => (u, r6(s)) }

  /** Per-query results of a batch top-k frame with columns (query_id, rank,
    * url, score), where query_id indexes `queries`. */
  def batchByQuery(df: DataFrame, queries: IndexedSeq[String]): Map[String, Ranked] = {
    val byId = df.collect().groupBy(_.getInt(0)).map { case (qi, rows) =>
      qi -> rows.sortBy(_.getInt(1)).map(r => (r.getString(2), r.getDouble(3))).toList
    }
    queries.indices.map(i => queries(i) -> byId.getOrElse(i, Nil)).toMap
  }

  /** Queries whose `got` result differs from `want` (exact, or at 1e-6
    * rounding when `round`). A query missing from `want` is a mismatch. */
  def mismatches(got: Map[String, Ranked], want: Map[String, Ranked],
                 round: Boolean): Set[String] =
    got.collect {
      case (q, r) if !want.get(q).exists(w =>
          if (round) rounded(w) == rounded(r) else w == r) => q
    }.toSet

  /** Expected answers as `kind \t query \t rank \t url \t score` lines;
    * scores print with full precision, so they read back exactly. */
  def writeExpected(f: java.io.File, byKind: Map[String, Map[String, Ranked]]): Unit = {
    val lines = for {
      (kind, m) <- byKind.toSeq.sortBy(_._1)
      (q, r) <- m.toSeq.sortBy(_._1)
      line <- if (r.isEmpty) Seq(s"$kind\t$q\t0\t\t") else r.zipWithIndex.map {
        case ((url, score), i) => s"$kind\t$q\t${i + 1}\t$url\t${java.lang.Double.toString(score)}"
      }
    } yield line
    java.nio.file.Files.write(f.toPath, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  def readExpected(f: java.io.File): Map[String, Map[String, Ranked]] = {
    val rows = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      .split("\n").toSeq.filter(_.nonEmpty).map(_.split("\t", -1))
    rows.groupBy(_(0)).map { case (kind, rs) =>
      kind -> rs.groupBy(_(1)).map { case (q, qs) =>
        q -> qs.filter(_(2) != "0").sortBy(_(2).toInt).map(r => (r(3), r(4).toDouble)).toList
      }
    }
  }

  /** Tally of checked operations: every attempted operation, and those
    * that failed or returned a wrong result. */
  final class Tally {
    var attempted = 0L
    var failed = 0L
    val examples = scala.collection.mutable.ArrayBuffer.empty[String]
    def check(ok: Boolean, what: => String): Unit = {
      attempted += 1
      if (!ok) { failed += 1; if (examples.length < 5) examples += what }
    }
    def correct: Boolean = attempted > 0 && failed == 0
  }
}
