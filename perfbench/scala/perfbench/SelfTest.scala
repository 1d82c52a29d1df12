package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

/** Checks of the benchmark's own machinery, run by perfbench/tests:
  * listener counts on jobs of known shape, span self time, and the
  * Spark-side digest of an expected table.
  *
  *   --input DIR   generated corpus; its expected.tsv is digested
  *   --other FILE  a second expected-table file to digest (optional)
  *   --out FILE    result JSON
  */
object SelfTest {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val input = args("--input")
    val work = new File(input, "work").getAbsolutePath
    val spark = Session.local("2", work)
    val sc = spark.sparkContext

    val counters = Counters.install(spark)
    val before = counters.snapshot()
    // one job of two stages (4 map tasks, 3 reduce tasks), then one job
    // of one stage (2 tasks)
    sc.parallelize(1 to 100, 4).map(x => (x % 2, 1)).reduceByKey(_ + _, 3).collect()
    sc.parallelize(1 to 10, 2).count()
    val c = counters.snapshot().minus(before)

    val tracer = new Tracer(true, None)
    tracer.span("parent") {
      Thread.sleep(100)
      tracer.span("child") { Thread.sleep(200) }
    }
    val parent = tracer.all.head

    val bench = new Bench(spark, input, work)
    def digest(f: String) = {
      val (n, d) = Digest.of(bench.readExpected(f))
      s"""{"rows":$n,"digest":"$d"}"""
    }
    val other = args.get("--other").map(f => s""","other":${digest(f)}""").getOrElse("")
    val json = s"""{"jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},""" +
      s""""shuffle_write":${c.shuffleWrite},"shuffle_read":${c.shuffleRead},""" +
      s""""job_wall_s":${c.jobWallSeconds},""" +
      s""""span_s":${parent.seconds},"span_self_s":${tracer.selfSeconds(parent)},""" +
      s""""expected":${digest(new File(input, "expected.tsv").getPath)}$other}"""
    spark.stop()
    Files.writeString(Paths.get(args("--out")), json + "\n")
  }
}
