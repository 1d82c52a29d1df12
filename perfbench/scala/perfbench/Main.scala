package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import graft.engine._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}

/** One benchmark process for an engine workload: a closed loop of full
  * pipeline passes over a generated corpus, driven through the public
  * `graft.engine` calls only.
  *
  * A pass runs `Pipeline.run` per state, `unionByName`, writes the table
  * with `Sink.writePartitioned` (parquet, partitioned by state), reads it
  * back and checks it against the expected table: equal count and digest,
  * and `Qa.agreement` ratio 1.0. Set-up ends after [[Main.WarmupPasses]]
  * untimed passes.
  *
  *   --input DIR       generated corpus (see gen.py)
  *   --trace 0|1       1: untraced and traced passes alternate, then probes
  *   --seconds N       measuring time
  *   --cpus N          local[N] and shuffle partitions
  *   --t0-ns NS        epoch nanoseconds at which the process was launched
  *   --out FILE        result JSON
  */
object Main {

  /** Passes run before timing starts, and counted in set-up: the cold
    * first pass and one more. On 4 cores the pass time keeps falling for
    * about 15 passes while the JIT warms up, but the host's speed also
    * drifts from minute to minute, and a longer timed window averages
    * that out better than more warm-up passes do. */
  val WarmupPasses = 2

  final case class PassResult(wallS: Double, ok: Boolean, rows: Long,
      digest: String, qaRatio: Double, error: String)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val input = args("--input")
    val traced = args.getOrElse("--trace", "0") == "1"
    val seconds = args.getOrElse("--seconds", "10").toDouble
    val t0Ns = args.get("--t0-ns").map(_.toLong).getOrElse(epochNs())
    val out = args("--out")
    val cpus = args.getOrElse("--cpus", "4")
    val work = new File(input, "work").getAbsolutePath

    def since(ns: Long) = f"${(epochNs() - ns) / 1e9}%.2f s"
    val spark = Session.local(cpus, work)
    System.err.println(s"perfbench: session up at ${since(t0Ns)}")
    val bench = new Bench(spark, input, work)
    bench.warm()
    System.err.println(s"perfbench: dictionaries warm at ${since(t0Ns)}")
    val warmups = Seq.fill(WarmupPasses)(bench.pass(Tracer.off))
    val setupS = (epochNs() - t0Ns) / 1e9
    System.err.println(s"perfbench: warm-up passes done at ${since(t0Ns)}")

    val res = new StringBuilder
    res ++= s"""{"setup_s":$setupS,"warmup":${passesJson(warmups)}"""
    if (!traced) {
      val passes = bench.loop(Seq(Tracer.off), seconds)
      res ++= s""","passes":${passesJson(passes.head)}"""
    } else {
      // traced and untraced passes alternate, so both see the same warm-up
      val counters = Counters.install(spark)
      val tracer = new Tracer(true, Some(counters))
      val Seq(untraced, passes) = bench.loop(Seq(Tracer.off, tracer), seconds)
      res ++= s""","passes":${passesJson(untraced)}"""
      val layers = bench.passLayers(tracer) ++ bench.probes(tracer) ++
        Seq("trace.untraced_batch_s" -> median(untraced.map(_.wallS)),
          "trace.batch_s" -> median(passes.map(_.wallS)),
          "qa.ratio" -> median(passes.map(_.qaRatio)),
          "trace.overhead_s" ->
            (median(passes.map(_.wallS)) - median(untraced.map(_.wallS))),
          "jvm.gc_s" -> gcSeconds(),
          "spark.storage_mem_mb_end" -> storageMb(spark))
      res ++= s""","traced_passes":${passesJson(passes)}"""
      res ++= layers.map { case (k, v) => s""""$k":$v""" }
        .mkString(""","layers":{""", ",", "}")
      Files.writeString(Paths.get(work, "trace.json"), tracer.toJson)
    }
    val conf = spark.conf.getAll.toSeq.sorted.map { case (k, v) =>
      s""""$k":"${v.replace("\\", "\\\\").replace("\"", "\\\"")}"""" }
    res ++= s""","peak_rss_mb":${peakRssMb()},"heap_max_mb":""" +
      s"""${Runtime.getRuntime.maxMemory / 1048576},"cpus":$cpus,""" +
      conf.mkString(""""spark_conf":{""", ",", "}}")
    spark.stop()
    Files.writeString(Paths.get(out), res.toString + "\n")
  }

  def epochNs(): Long = {
    val i = Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def passesJson(ps: Seq[PassResult]): String =
    ps.map(passJson).mkString("[", ",", "]")

  private def passJson(p: PassResult): String = {
    val err = Option(p.error).map(e =>
      "\"" + e.replace("\\", "\\\\").replace("\"", "\\\"")
        .replace("\n", " ").take(500) + "\"").getOrElse("null")
    s"""{"wall_s":${p.wallS},"ok":${p.ok},"rows":${p.rows},""" +
      s""""digest":"${p.digest}","qa_ratio":${p.qaRatio},"error":$err}"""
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  private def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum / 1048576.0

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(-1.0)
}

object Session {
  /** The session every benchmark process uses: local, with the confs the
    * repository's own sessions pin (ANSI off, UTC, UI off, shuffle
    * partitions = cores), and all scratch files inside `work`. */
  def local(cpus: String, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** The workload: corpus description, the pass, and the traced probes. */
final class Bench(spark: SparkSession, input: String, work: String) {
  import Main.{PassResult, median}

  private val manifest = new ObjectMapper().readTree(new File(input, "manifest.json"))
  val states: Seq[String] = manifest.get("states").elements().asScala.map(_.asText).toSeq
  private val exp = manifest.get("expected")
  private val expRows = exp.get("rows").asLong
  private val expDigest = exp.get("digest").asText
  private val expColumns = exp.get("columns").elements().asScala.map(_.asText).toSeq
  private val doubles = exp.get("double_columns").elements().asScala.map(_.asText).toSet
  private def path(name: String) = new File(input, name).getAbsolutePath
  private val dict1 = path("dict_1.txt")
  private val dict2 = path("dict_2.txt")
  private def cfg(st: String) = Pipeline.Config(dict1Path = dict1,
    dict2Path = dict2, breakfastPath = path(s"${st}_SBP.txt"),
    lunchPath = path(s"${st}_NSLP.txt"), ncesPath = Some(path(s"${st}_NCES.txt")),
    state = st)
  private val claimFiles: Seq[(String, String, String)] = states.flatMap(st =>
    Seq((st, "NSLP", path(s"${st}_NSLP.txt")), (st, "SBP", path(s"${st}_SBP.txt"))))

  /** The sponsor's hand-cleaned table, in the role of the QA golden file. */
  def readExpected(file: String): DataFrame = spark.read
    .option("sep", "\t").option("header", "true")
    .schema(StructType(expColumns.map(c =>
      StructField(c, if (doubles(c)) DoubleType else StringType))))
    .csv(file)

  private val expected = readExpected(path("expected.tsv"))

  private var passNo = 0
  // ids of the traced pass spans, and the sink figures of each
  private val passSpans = scala.collection.mutable.ArrayBuffer.empty[Int]
  private val sinkStats = scala.collection.mutable.Map.empty[Int, Seq[(String, Double)]]

  /** Dictionary warm: load and collect both templates once. */
  def warm(): Unit =
    Dictionary.collectDicts(Dictionary.load(spark, dict1), Dictionary.load(spark, dict2))

  /** Closed loop: start a pass only while less than `seconds` have gone,
    * cycling through the tracers; the passes come back per tracer. */
  def loop(tracers: Seq[Tracer], seconds: Double): Seq[Seq[PassResult]] = {
    val start = System.nanoTime()
    val out = tracers.map(_ => scala.collection.mutable.ArrayBuffer.empty[PassResult])
    var i = 0
    while (i < tracers.length || (System.nanoTime() - start) / 1e9 < seconds) {
      out(i % tracers.length) += pass(tracers(i % tracers.length))
      i += 1
    }
    out.map(_.toSeq)
  }

  def pass(tr: Tracer): PassResult = {
    passNo += 1
    val dir = s"$work/out/pass-$passNo"
    val t0 = System.nanoTime()
    val result = try {
      tr.span("pass", counted = true) {
        val passId = tr.all.length - 1
        if (tr.enabled) passSpans += passId
        val frames = tr.span("pipeline.build", counted = true) {
          states.map(st => Pipeline.run(spark, cfg(st)).withColumn("state", lit(st)))
        }
        val table = tr.span("assemble.union") { frames.reduce(_ unionByName _) }
        tr.span("sink.write", counted = true) {
          Sink.writePartitioned(table, dir, Seq("state"))
        }
        if (tr.enabled) {
          val files = parquetFiles(new File(dir))
          sinkStats(passId) = Seq("sink.files_written" -> files.length.toDouble,
            "sink.bytes_written" -> files.map(_.length).sum.toDouble)
        }
        val back = Sink.read(spark, dir)
        val (n, digest) = tr.span("verify.digest", counted = true) { Digest.of(back) }
        val ag = tr.span("qa.agreement", counted = true) {
          Qa.agreement(back, expected.select(back.columns.map(c => col(s"`$c`")): _*))
        }
        val ok = n == expRows && digest == expDigest && ag.ratio == 1.0 &&
          ag.countA == ag.countB
        val why = if (ok) null else
          s"rows $n vs $expRows, digest $digest vs $expDigest, qa $ag"
        PassResult(0, ok, n, digest, ag.ratio, why)
      }
    } catch {
      case NonFatal(e) => PassResult(0, ok = false, 0, "", 0.0, e.toString)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    deleteTree(new File(s"$work/out"))
    result.copy(wallS = wall)
  }

  /** Per-pass layer figures from the traced passes (medians over passes). */
  def passLayers(tr: Tracer): Seq[(String, Double)] = {
    val spans = tr.all
    val perPass = passSpans.toSeq.map(spans(_)).filter(_.endNs > 0).map { p =>
      val kids = tr.children(p.id)
      def sec(name: String) = kids.filter(_.name == name).map(_.seconds).sum
      def cnt(name: String) = kids.find(_.name == name).flatMap(_.counts)
      val c = p.counts.get
      val wall = p.seconds
      val jobWall = c.jobWallSeconds
      Seq(
        "pipeline.build_s" -> sec("pipeline.build"),
        "pipeline.build_jobs" -> cnt("pipeline.build").map(_.jobs.toDouble).getOrElse(0.0),
        "assemble.union_s" -> sec("assemble.union"),
        "sink.write_s" -> sec("sink.write"),
        "verify.digest_s" -> sec("verify.digest"),
        "qa.agreement_s" -> sec("qa.agreement"),
        "catalyst.analysis_s" -> c.queries.map(_.analysisMs).sum / 1e3,
        "catalyst.optimization_s" -> c.queries.map(_.optimizationMs).sum / 1e3,
        "catalyst.planning_s" -> c.queries.map(_.planningMs).sum / 1e3,
        "catalyst.plan_nodes" -> c.queries.map(_.planNodes).maxOption.getOrElse(0).toDouble,
        "execute.s" -> jobWall,
        "execute.jobs" -> c.jobs.toDouble,
        "execute.stages" -> c.stages.toDouble,
        "execute.tasks" -> c.tasks.toDouble,
        "execute.task_s" -> c.taskMs / 1e3,
        "execute.shuffle_write_bytes" -> c.shuffleWrite.toDouble,
        "execute.shuffle_read_bytes" -> c.shuffleRead.toDouble,
        "execute.spill_bytes" -> c.spill.toDouble,
        "execute.driver_gap_s" -> (wall - jobWall),
        "trace.accounted_share" -> kids.map(_.seconds).sum / wall,
        "trace.pass_self_s" -> tr.selfSeconds(p)) ++ sinkStats.getOrElse(p.id, Nil)
    }
    val names = perPass.head.map(_._1)
    names.map(n => n -> median(perPass.map(_.toMap.apply(n))))
  }

  private def parquetFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).toSeq.flatMap(parquetFiles)
    else if (f.getName.endsWith(".parquet")) Seq(f) else Nil

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).foreach(deleteTree)
    f.delete()
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** One-off probes into single layers, run once after the traced passes:
    * the calls `Pipeline.run` makes internally, made here one layer at a
    * time, and prefix runs of the plan into a noop sink. */
  def probes(tr: Tracer): Seq[(String, Double)] = tr.span("probes") {
    def timed[T](name: String)(body: => T): (T, Tracer.Span) = {
      val v = tr.span(name, counted = true)(body)
      (v, tr.all.filter(_.name == name).last)
    }
    val (dicts, load) = timed("dictionary.load") {
      Dictionary.collectDicts(Dictionary.load(spark, dict1), Dictionary.load(spark, dict2))
    }
    val (raws, header) = timed("ingest.header") {
      claimFiles.map { case (st, kind, p) => (st, kind, Ingest.readTsv(spark, p)) }
    }
    val (plans, plan) = timed("dictionary.plan") {
      raws.map { case (_, _, df) => Dictionary.planLocal(df.columns.toSeq, dicts) }
    }
    val cleaned = raws.zip(plans).map { case ((st, kind, df), pl) =>
      (st, kind, CleanPipeline.clean(df, pl)) }
    // the two prefix runs alternate file by file, so both see the same
    // cache and JIT state
    val scans = raws.zip(cleaned).map { case ((_, _, raw), (_, _, clean)) =>
      (timed("ingest.scan")(noop(raw))._2, timed("clean.scan")(noop(clean))._2)
    }
    def total(ss: Seq[Tracer.Span]) = ss.map(_.seconds).sum
    def inputs(ss: Seq[Tracer.Span], f: Counters.Snapshot => Long) =
      ss.map(s => f(s.counts.get)).sum.toDouble
    def side(kind: String) = cleaned.collect { case (st, `kind`, df) => st -> df }.toMap
    val lunch = side("NSLP")
    val bfast = side("SBP")
    val (counts, _) = timed("assemble.counts") {
      val joined = states.map(st => Assemble.joinClaims(lunch(st), bfast(st)))
      Seq(lunch.values.reduce(_ unionByName _).count(),
        bfast.values.reduce(_ unionByName _).count(),
        joined.reduce(_ unionByName _).count(),
        joined.map(Assemble.finalTable).reduce(_ unionByName _).count())
    }
    val Seq(nLunch, nBfast, nJoined, nDistinct) = counts
    Seq(
      "dictionary.load_s" -> load.seconds,
      "dictionary.jobs" -> load.counts.get.jobs.toDouble,
      "dictionary.plan_s" -> plan.seconds,
      "dictionary.cols_dropped" -> plans.map(_.drops.size).sum.toDouble,
      "dictionary.cols_renamed" -> plans.map(_.renames.size).sum.toDouble,
      "ingest.header_s" -> header.seconds,
      "ingest.header_jobs" -> header.counts.get.jobs.toDouble,
      "ingest.files" -> raws.length.toDouble,
      "ingest.scan_s" -> total(scans.map(_._1)),
      "ingest.rows_read" -> inputs(scans.map(_._1), _.inRecords),
      "ingest.bytes_read" -> inputs(scans.map(_._1), _.inBytes),
      "clean.scan_s" -> (total(scans.map(_._2)) - total(scans.map(_._1))),
      "assemble.rows_lunch" -> nLunch.toDouble,
      "assemble.rows_breakfast" -> nBfast.toDouble,
      "assemble.rows_joined" -> nJoined.toDouble,
      "assemble.match_rate" -> nJoined.toDouble / nLunch,
      "assemble.rows_distinct" -> nDistinct.toDouble)
  }
}
