package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.core.Tables
import graft.queries.{Extensions, Q, Registry}

/** Benchmark harness: runs one workload against the engine's public
  * entry points and writes every raw sample (timings, listener counters,
  * outputs for the correctness check) to a JSON file.  Statistics and
  * the pass/fail verdict are computed by `perfbench/run.py`.
  *
  * Usage: Main <workload> <data dir> <work dir> <result json> <seconds>
  *             <seed> <trace 0|1> <cores>
  */
object Main {
  final case class Args(workload: String, data: String, work: Path, result: Path,
                        seconds: Double, seed: Long, trace: Boolean, cores: Int)

  /** One curation query per kernel family (MinHash/LSH, connected
    * components, embedding similarity, BPE, pHash): three passes of these
    * fit a run, and a median over three passes is what keeps the
    * run-to-run spread inside the bounds.  x01, x45, x73, x74, x81 and
    * x90 would not fit as well. */
  val CurationQueries: Seq[String] = Seq("x02", "x28", "x39", "x83", "x87")

  def main(argv: Array[String]): Unit = {
    if (argv(0) == "oracle-sql") {
      // Main oracle-sql <json>: snapshot the registry's oracle SQL of the
      // benchmark's queries (the references' source, perfbench/oracle_sql.json)
      val byPrefix = Registry.all.map(q => q.name.split('_').head -> q).toMap
      val sql = CurationQueries.map(byPrefix)
        .flatMap(q => q.oracle.map(q.name -> _))
      Files.writeString(Paths.get(argv(1)), Json.write(mutable.LinkedHashMap(sql: _*)))
      return
    }
    val a = Args(argv(0), argv(1), Paths.get(argv(2)), Paths.get(argv(3)),
      argv(4).toDouble, argv(5).toLong, argv(6) == "1", argv(7).toInt)
    Files.createDirectories(a.work)
    val out = mutable.LinkedHashMap[String, Any]()
    a.workload match {
      case "curation" => curation(a, out)
      case "ingest" => Ingest.run(a, out)
      case w => sys.error(s"unknown workload $w")
    }
    Files.writeString(a.result, Json.write(out))
  }

  /** The session `graft.Bench` builds, with master and shuffle
    * partitions from the core count and every scratch path inside the
    * benchmark's work directory. */
  def session(a: Args, master: String): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Set-up time: seconds from process start to now, called right before
    * the first timed operation.  It covers JVM start, engine and session
    * initialisation, table loading and the untimed warm-up. */
  def setupS(): Double =
    (System.currentTimeMillis - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** progress line on stderr, with seconds since process start */
  def phase(what: String): Unit = {
    val up = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    System.err.println(f"[harness] $up%6.1fs $what")
  }

  def timeMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime
    val r = body
    (r, (System.nanoTime - t0) / 1e6)
  }

  // ------------------------------------------------------------ curation

  def curation(a: Args, out: mutable.Map[String, Any]): Unit = {
    val byPrefix = Registry.all.map(q => q.name.split('_').head -> q).toMap
    val qs = CurationQueries.map(byPrefix)
    val spark = session(a, s"local[${a.cores}]")
    Tables.names.foreach(t => Tables.load(spark, a.data, t))
    phase("session up")

    // Untimed warm-up pass: JIT, codegen and staged intermediates, and the
    // outputs the correctness check reads.
    val outputs = a.work.resolve("outputs")
    val warm = qs.map { q =>
      val ok = try {
        q.run(spark, a.data).write.mode("overwrite").parquet(outputs.resolve(q.name).toString)
        true
      } catch { case e: Throwable => System.err.println(s"${q.name}: $e"); false }
      Extensions.clearPersistedIntermediates()
      q.name -> ok
    }
    out("outputs") = outputs.toString
    out("warmup_ok") = warm.toMap
    phase("warmed up")

    val probe = if (a.trace) Some(new Probe(spark)) else None
    def one(q: Q, traced: Boolean): Map[String, Any] = {
      val scope = q.name
      val t0 = System.nanoTime
      val (ok, buildMs, runMs) = Probe.withScope(spark, s"build:$scope") {
        try {
          val (df, b) = timeMs(q.run(spark, a.data))
          val (_, r) = Probe.withScope(spark, scope)(timeMs(
            df.write.format("noop").mode("overwrite").save()))
          (true, b, r)
        } catch { case e: Throwable => System.err.println(s"${q.name}: $e"); (false, 0.0, 0.0) }
      }
      val wallMs = (System.nanoTime - t0) / 1e6
      // between timed windows, as graft.Bench does; its System.gc() every
      // 16 queries is left out, the JVM runs with -XX:+DisableExplicitGC
      Extensions.clearPersistedIntermediates()
      Map("name" -> q.name, "ok" -> ok, "ms" -> wallMs, "build_ms" -> buildMs,
        "run_ms" -> runMs, "traced" -> traced)
    }
    // A second untimed pass, through the timed path: without it the first
    // timed pass ran 10-30% slower than the third while the JIT settled.
    qs.foreach(one(_, traced = false))
    phase("warmed up through the timed path")
    out("setup_s") = setupS()

    // Closed loop, one client: whole passes in a seed-shuffled order, as
    // many as fit in the run's time, at least three.  A traced run
    // alternates untraced and traced passes, so the traced pass sits
    // between two untraced ones and the overhead shows.
    val rng = new scala.util.Random(a.seed)
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val layers = mutable.ArrayBuffer[Map[String, Any]]()
    val t0 = System.nanoTime
    var lastWall = 0.0
    def elapsed = (System.nanoTime - t0) / 1e9
    val minPasses = 3
    while (passes.size < minPasses || elapsed + lastWall <= a.seconds) {
      val traced = a.trace && passes.size % 2 == 1
      if (traced) { probe.get.reset(); probe.get.attach() }
      val order = rng.shuffle(qs)
      val p0 = System.nanoTime
      val samples = order.map(one(_, traced))
      val wall = (System.nanoTime - p0) / 1e9
      lastWall = wall
      passes += Map("wall_s" -> wall, "traced" -> traced, "queries" -> samples)
      phase(f"pass ${passes.size} $wall%.1fs")
      if (traced) {
        probe.get.settle(); probe.get.detach()
        layers += probe.get.snapshot().map { case (k, v) => k -> v.toJson }
      }
    }
    out("passes") = passes.toSeq
    out("layers") = layers.toSeq
    spark.stop()
  }
}
