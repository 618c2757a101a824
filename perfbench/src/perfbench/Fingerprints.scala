package perfbench

import java.nio.file.Paths

import org.json4s.{JObject, JString}

import Harness._

/** `Harness fingerprints <dataDir> <outFile> [dumpDir]`: compute the
  * expected fingerprint of every workload member (and of the set-up
  * warm-up query), twice each in this process, and write them in the
  * `expected.tsv` format. An output whose two fingerprints disagree gets a
  * `*` hash (checked by row count only). With `dumpDir`, every batch
  * output is also written there as parquet, with the DuckDB oracle SQL in
  * `oracle_sql.json`, for `tools/crosscheck.py`.
  */
object Fingerprints {
  def apply(args: Array[String]): Int = {
    val data = args(0)
    val out = Paths.get(args(1))
    val dump = args.lift(2).map(Paths.get(_))
    val scratch = out.toAbsolutePath.getParent.resolve("fp-scratch")
    val wls = Workloads.load(Root.resolve("workloads.json")).values.toSeq
    val spark = newSession(cores, scratch)
    val queries = queryMap
    val batch = ("q1_agg" +: wls.filterNot(_.isStream).flatMap(_.members)).distinct.sorted
    val lines = batch.map { q =>
      def once() = { val f = Fingerprint.of(queries(q)(spark, data)); dropLeftovers(spark); f }
      val (a, b) = (once(), once())
      require(a.rows == b.rows, s"$q: row count differs run to run")
      dump.foreach { d =>
        queries(q)(spark, data).write.mode("overwrite").parquet(d.resolve(q).toString)
        dropLeftovers(spark)
      }
      System.err.println(s"[perfbench] $q ${a.rows} ${a.hash}${if (a == b) "" else " UNSTABLE"}")
      s"$q\t${a.rows}\t${if (a == b) a.hash.toString else "*"}"
    }
    val streams = wls.filter(_.isStream).flatMap { wl =>
      val r = new StreamRunner(wl, Expected.none, data, scratch)
      r.prepare(spark)
      r.pass(spark, wl.members, "fp1", tracing = false)
      val first = r.fingerprints.toMap
      r.pass(spark, wl.members, "fp2", tracing = false)
      first.toSeq.sortBy(_._1).map { case (n, a) =>
        val b = r.fingerprints(n)
        require(a.rows == b.rows, s"$n: row count differs run to run")
        s"$n\t${a.rows}\t${if (a == b) a.hash.toString else "*"}"
      }
    }
    dump.foreach(d => writeString(d.resolve("oracle_sql.json"), Metrics.json(
      JObject(graft.SparkEntry.oracleSql.toSeq.filter(kv => batch.contains(kv._1))
        .sorted.map { case (q, sql) => q -> JString(sql) }: _*))))
    writeString(out, (lines ++ streams).mkString("", "\n", "\n"))
    stopSession(spark)
    Run.deleteTree(scratch)
    0
  }
}
