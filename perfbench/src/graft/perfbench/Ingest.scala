package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.ops.DimStore
import graft.streaming.{DedupDaily, FileTopic, PageLog, Sources}

/** The `ingest` workload: an open-loop generator publishes page-log
  * segments into a FileTopic on a fixed schedule while the `uv_dim`
  * path (parse, DedupDaily, DimStore upsert) consumes them and a reader
  * thread issues point lookups on a fixed schedule.  Before it, an
  * untimed closed-loop drain commits `warm_commits` one-segment batches,
  * so the commit path is compiled before the first timed commit; the
  * first `warm_s` seconds of the schedule then let the new stream start,
  * and the segments and lookups due after them are the timed ones.
  * Afterwards the same topic is drained in closed loop into a fresh
  * table: one drain is one pass. */
object Ingest {
  import Main.{Args, timeMs}

  private val LogSchema = StructType(Seq(
    StructField("mid", StringType), StructField("page_id", StringType),
    StructField("last_page_id", StringType), StructField("ts", LongType)))

  private def pages(raw: DataFrame): Dataset[PageLog] = {
    import raw.sparkSession.implicits._
    Sources.parseJson(raw, LogSchema)
      .filter(col("parsed").isNotNull && col("parsed.mid").isNotNull)
      .select(col("parsed.mid").as("mid"), col("parsed.page_id").as("pageId"),
        col("parsed.last_page_id").as("lastPageId"), col("parsed.ts").as("ts"),
        lit("0").as("isNew"), timestamp_millis(col("parsed.ts")).as("eventTime"))
      .as[PageLog]
  }

  /** Held around every DimStore commit and lookup.  A `DimStore.read`
    * running beside an upsert in the same JVM fails the upsert: the
    * read's crash recovery renames a bucket directory the commit's view
    * refresh is moving (seen as NoSuchFileException on
    * `__bucket=k -> .__old/__bucket=k`).  Until the store allows it,
    * lookups wait for commits and commits wait for lookups, and the
    * wait counts in both latencies. */
  private val storeLock = new Object

  /** Start the `uv_dim` consumer; `onCommit(batchId, nanoTime, upsertMs)`
    * runs right after each batch's DimStore commit returns. */
  private def consumer(spark: SparkSession, topic: String, chk: String, table: String,
                       maxFiles: Option[Int])(onCommit: (Long, Long, Double) => Unit): StreamingQuery = {
    val entries = pages(FileTopic.stream(spark, topic, maxFiles))
      .filter((e: PageLog) => e.lastPageId.isEmpty)
    DedupDaily(entries).writeStream
      .option("checkpointLocation", chk)
      .foreachBatch { (batch: Dataset[PageLog], id: Long) =>
        val (_, ms) = timeMs(storeLock.synchronized(Probe.withScope(spark, "upsert")(
          DimStore.upsert(batch.sparkSession, table, batch.toDF(), pk = "mid",
            versionCol = "ts", nBuckets = 16))))
        onCommit(id, System.nanoTime, ms)
      }.start()
  }

  /** One point lookup by primary key. */
  private def lookup(spark: SparkSession, table: String, key: String): Array[org.apache.spark.sql.Row] =
    storeLock.synchronized(Probe.withScope(spark, "read")(
      DimStore.read(spark, table).filter(col("mid") === key).collect()))

  /** file name -> micro-batch id, from the file source's own log in the
    * checkpoint (read after the query stopped: no Spark job). */
  private def batchOfFile(chk: String): Map[String, Long] = {
    val dir = java.nio.file.Paths.get(chk, "sources", "0")
    val entry = "\"path\":\"([^\"]+)\".*\"batchId\":(\\d+)".r.unanchored
    Files.list(dir).iterator.asScala.filter(p => !p.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p).asScala).collect {
        case entry(path, id) => path.substring(path.lastIndexOf('/') + 1) -> id.toLong
      }.toMap
  }

  private def sizeOf(p: Path): Long =
    Files.walk(p).iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  /** Closed-loop drain of the whole topic into a fresh table. */
  private def drain(spark: SparkSession, topic: String, dir: Path, files: Int): Double = {
    val (_, ms) = timeMs {
      val q = consumer(spark, topic, dir.resolve("chk").toString,
        dir.resolve("table").toString, Some(files))((_, _, _) => ())
      try q.processAllAvailable() finally q.stop()
    }
    ms / 1e3
  }

  private def dumpTable(spark: SparkSession, table: Path, dest: Path): Unit =
    DimStore.read(spark, table.toString).select("mid", "ts")
      .write.mode("overwrite").parquet(dest.toString)

  def run(a: Args, out: mutable.Map[String, Any]): Unit = {
    val conf = new java.util.Properties()
    val in = Files.newInputStream(java.nio.file.Paths.get(a.data, "ingest.properties"))
    try conf.load(in) finally in.close()
    def p(k: String): Int = conf.getProperty(k).trim.toInt
    val (perSegment, periodMs, readPeriodMs, drainFiles, drains) =
      (p("per_segment"), p("period_ms"), p("read_period_ms"), p("drain_files"), p("drains"))
    val (warmCommits, warmReads, warmS) = (p("warm_commits"), p("warm_reads"), p("warm_s"))
    val lines = Files.readAllLines(java.nio.file.Paths.get(a.data, "segments.txt")).asScala.toIndexedSeq
    val segs = lines.grouped(perSegment).toIndexedSeq
    val midRe = "\"mid\":\"([^\"]+)\"".r.unanchored
    val mids = segs.map(_.collect { case midRe(m) => m })

    val spark = Main.session(a, s"local[${a.cores}]")
    Main.phase("session up")
    val work = a.work
    // untimed warm-up: one commit per segment of a topic of the first
    // ones, then lookups of the devices of the first segment
    val warmTopic = work.resolve("warm-topic").toString
    segs.take(warmCommits).foreach(FileTopic.produce(warmTopic, _))
    drain(spark, warmTopic, work.resolve("warm"), 1)
    mids.head.take(warmReads).foreach(lookup(spark, work.resolve("warm/table").toString, _))
    Main.phase("warmed up")

    val probe = if (a.trace) Some(new Probe(spark)) else None
    probe.foreach(_.attach())

    // ---- open loop: generator, consumer, reader
    val topic = work.resolve("topic").toString
    val table = work.resolve("uv_dim")
    val chk = work.resolve("chk").toString
    Files.createDirectories(java.nio.file.Paths.get(topic))
    val commits = new ConcurrentHashMap[Long, Long]()
    val upsertMs = new ConcurrentHashMap[Long, Double]()
    val q = consumer(spark, topic, chk, table.toString, None) { (id, ns, ms) =>
      commits.put(id, ns); upsertMs.put(id, ms)
    }
    val n = segs.size
    val period = periodMs * 1000000L
    // the first segment is due one second on, once the stream is running;
    // the warm-up segments come first, the timed ones from `timedFrom`
    val t0 = System.nanoTime + 1000000000L
    val due = Array.tabulate(n)(i => t0 + i * period)
    val nWarm = math.min(n, warmS * 1000 / periodMs)
    val timedFrom = t0 + nWarm * period
    // set-up ends where the timed schedule starts
    out("setup_s") = Main.setupS() + (timedFrom - System.nanoTime) / 1e9
    val sent = new Array[Long](n)
    val names = new Array[String](n)
    @volatile var published = 0
    def sleepUntil(t: Long): Unit = {
      val d = t - System.nanoTime
      if (d > 0) Thread.sleep(d / 1000000L, (d % 1000000L).toInt)
    }
    val generator = new Thread(() => {
      for (i <- 0 until n) {
        sleepUntil(due(i))
        names(i) = FileTopic.produce(topic, segs(i))
        sent(i) = System.nanoTime
        published = i + 1
      }
    }, "perfbench-generator")
    val reads = mutable.ArrayBuffer[Map[String, Any]]()
    val reader = new Thread(() => {
      val rng = new scala.util.Random(a.seed)
      var j = 0
      val end = t0 + n * period
      var d = t0
      while (d < end) {
        sleepUntil(d)
        if (!commits.isEmpty) {
          val seg = mids(rng.nextInt(math.max(1, published)))
          val key = seg(rng.nextInt(seg.size))
          val start = System.nanoTime
          val (ok, rows) = try {
            val r = lookup(spark, table.toString, key)
            (r.length <= 1, r.length)
          } catch { case e: Throwable => System.err.println(s"read: $e"); (false, 0) }
          reads += Map("due" -> d, "start" -> start, "end" -> System.nanoTime,
            "ok" -> ok, "rows" -> rows, "timed" -> (d >= timedFrom))
        }
        j += 1
        d = t0 + j * readPeriodMs * 1000000L
      }
    }, "perfbench-reader")
    generator.start(); reader.start()
    generator.join(); reader.join()
    q.processAllAvailable()
    q.stop()
    Main.phase("open loop done")
    val batchOf = batchOfFile(chk)
    out("segments") = (0 until n).map { i =>
      val b = batchOf.get(names(i))
      Map("due" -> due(i), "sent" -> sent(i), "batch" -> b.getOrElse(-1L),
        "commit" -> b.flatMap(id => Option(commits.get(id))).getOrElse(-1L),
        "events" -> segs(i).size, "timed" -> (i >= nWarm))
    }
    out("commits") = commits.asScala.toSeq.sortBy(_._1).map { case (id, ns) => Seq(id, ns) }
    out("upsert_ms") = upsertMs.asScala.toSeq.sortBy(_._1).map { case (id, ms) => Seq[Any](id, ms) }
    out("reads") = reads.toSeq
    out("versions") = DimStore.history(table.toString).size
    val outputs = work.resolve("outputs")
    dumpTable(spark, table, outputs.resolve("uv_dim"))
    val rowsNow = spark.read.parquet(outputs.resolve("uv_dim").toString).count()
    out("store_bytes_per_row") = sizeOf(table).toDouble / math.max(1L, rowsNow)
    probe.foreach { pr =>
      pr.settle(); pr.detach()
      out("layers_open") = pr.snapshot().map { case (k, v) => k -> v.toJson }
      out("progress") = pr.progress.toSeq.map { pg =>
        val st = pg.stateOperators.headOption
        Map("batch" -> pg.batchId, "rows" -> pg.numInputRows,
          "duration_ms" -> pg.durationMs.asScala.map { case (k, v) => k -> v.longValue },
          "state_rows" -> st.map(_.numRowsTotal).getOrElse(0L),
          "state_bytes" -> st.map(_.memoryUsedBytes).getOrElse(0L),
          "state_commit_ms" -> st.map(_.commitTimeMs).getOrElse(0L))
      }
    }

    // ---- closed-loop drains of the same topic: one drain is one pass
    val drainS = mutable.ArrayBuffer[Map[String, Any]]()
    for (k <- 0 until drains) {
      val traced = a.trace && k % 2 == 1
      if (traced) { probe.get.reset(); probe.get.attach() }
      val dir = work.resolve(s"drain-$k")
      val s = drain(spark, topic, dir, drainFiles)
      if (traced) {
        probe.get.settle(); probe.get.detach()
        out("layers_drain") = probe.get.snapshot().map { case (k, v) => k -> v.toJson }
      }
      dumpTable(spark, dir.resolve("table"), outputs.resolve(s"uv_dim_drain$k"))
      drainS += Map("s" -> s, "traced" -> traced)
      Main.phase(f"drain $k $s%.1fs")
    }
    out("drains") = drainS.toSeq
    out("outputs") = outputs.toString
    out("events") = lines.size
    spark.stop()

    // ---- single-core baseline (traced runs only, not gated)
    if (a.trace) {
      val one = Main.session(a, "local[1]")
      out("drain_1core_s") = drain(one, topic, work.resolve("drain-1core"), drainFiles)
      one.stop()
    }
  }
}
