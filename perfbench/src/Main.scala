package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.io.Tables
import graft.series.Series
import graft.streaming.Streams

/** One measured op: which client ran it, its latency, and whether it threw. */
final case class OpRec(id: Long, kind: String, startNs: Long, endNs: Long,
                       ok: Boolean, rowsOut: Long, rowsCovered: Long, err: String)

/** The benchmark's JVM side. Runs one workload for a fixed time against
  * inputs that the Python driver generated from the seed, and writes a
  * JSON record of every op, the sampled results to check, and (traced
  * runs) the per-layer counters and spans.
  *
  * Usage: perfbench.Main <workload> <dataDir> <planFile> <scratchDir>
  *   <seconds> <trace 0|1> <cores> <outFile>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, planFile, scratch, secondsS, traceS, coresS, outFile) = args
    val traceOn = traceS == "1"
    val seconds = secondsS.toDouble
    // a killed driver must not leave this JVM running in its checkout
    ProcessHandle.current().parent().ifPresent { parent =>
      val t = new Thread(() => {
        while (parent.isAlive) Thread.sleep(500)
        Runtime.getRuntime.halt(3)
      }, "perfbench-parent-watch")
      t.setDaemon(true)
      t.start()
    }
    val startLoad = loadavg()
    val spark = SparkSession.builder()
      .master(s"local[$coresS]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.local.dir", s"$scratch/local")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    sc.setCheckpointDir(s"$scratch/checkpoint")
    // JVM start to a ready session
    val sessionS = sinceJvmStart()
    CountingLocalFs.sc = sc
    val tr = new Tracer(traceOn, sc)
    val probe = if (traceOn) Some(new Probe(tr, new Counters)) else None
    probe.foreach { p =>
      sc.addSparkListener(p)
      spark.listenerManager.register(p)
    }
    val out = mutable.LinkedHashMap[String, Any]()
    val ctx = Ctx(spark, tr, probe, dataDir, planFile, scratch, seconds, out)
    workload match {
      case "olap_cached" | "olap_scaled" => OlapRun(ctx, workload == "olap_scaled")
      case "landing_mixed" => LandingRun(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    out("measured_end_s") = sinceJvmStart()
    out("setup_s") = sessionS + out("setup_work_s").asInstanceOf[Double]
    out("session_s") = sessionS
    out("peak_rss_mb") = peakRssMb()
    out("loadavg_start") = startLoad
    out("loadavg_end") = loadavg()
    out("versions") = Map(
      "java" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "hadoop" -> org.apache.hadoop.util.VersionInfo.getVersion,
      "scala" -> scala.util.Properties.versionNumberString)
    out("cores") = coresS.toInt
    probe.foreach(p => out("trace") = Layers.report(tr, p, out))
    Files.write(Paths.get(outFile), Json.write(out).getBytes("UTF-8"))
    spark.stop()
  }

  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def loadavg(): Seq[Double] =
    scala.util.Try(scala.io.Source.fromFile("/proc/loadavg").mkString.trim
      .split("\\s+").take(3).toSeq.map(_.toDouble)).getOrElse(Seq.empty)

  def peakRssMb(): Double =
    scala.util.Try(scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).get)
      .getOrElse(-1.0)

  /** The jobs a listener has not yet seen would land in the wrong window. */
  def drain(spark: SparkSession): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def readPlan(planFile: String): IndexedSeq[OpSpec] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.parse
    scala.io.Source.fromFile(planFile).getLines().filter(_.nonEmpty).map { l =>
      val j = parse(l)
      val JInt(id) = j \ "id": @unchecked
      val JString(shape) = j \ "shape": @unchecked
      OpSpec(id.toLong, shape, (j \ "p").values.asInstanceOf[Map[String, Any]])
    }.toIndexedSeq
  }

  def time[T](f: => T): (T, Double) = {
    val t = System.nanoTime(); val r = f; (r, (System.nanoTime() - t) / 1e9)
  }

  /** JVM-wide GC time and heap pools, for the jvm.* layer. */
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  def resetHeapPeak(): Unit = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).foreach(_.resetPeakUsage())
  def heapPeakMb(): Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0
}

final case class Ctx(spark: SparkSession, tr: Tracer, probe: Option[Probe],
                     dataDir: String, planFile: String, scratch: String,
                     seconds: Double, out: mutable.Map[String, Any]) {
  /** Marks the start of the measured window: counters on, baselines taken. */
  def beginMeasure(): Unit = {
    Main.drain(spark)
    out("measured_start_s") = Main.sinceJvmStart()
    Main.resetHeapPeak()
    out("gc_ms_start") = Main.gcMs()
    probe.foreach(_.c.active = true)
    CountingLocalFs.counters.active = probe.isDefined
  }
  def endMeasure(): Unit = {
    Main.drain(spark)
    probe.foreach(_.c.active = false)
    CountingLocalFs.counters.active = false
    out("gc_ms") = Main.gcMs() - out("gc_ms_start").asInstanceOf[Long]
    out("heap_peak_mb") = Main.heapPeakMb()
  }
  /** Registers a table's data-file count (1 for a single-file table) for
    * the files-pruned count. Lists through java.io, so the filesystem
    * counters do not see it.
    */
  def registerFiles(table: String): Unit = probe.foreach { p =>
    val f = new File(table)
    val n = if (f.isFile) 1 else Option(f.listFiles).map(_.count(x => x.isFile &&
      x.getName.endsWith(".parquet") && !x.getName.startsWith("_") &&
      !x.getName.startsWith("."))).getOrElse(0)
    p.tableFiles.put(f.getAbsolutePath, Integer.valueOf(n))
  }
}

/** Serialises the result record (maps, sequences, numbers, strings). */
object Json {
  def write(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb.append('"')
      s.foreach {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      sb.append('"')
    }
    def go(x: Any): Unit = x match {
      case null | None => sb.append("null")
      case Some(y) => go(y)
      case s: String => str(s)
      case b: Boolean => sb.append(b)
      case d: Double => if (d.isNaN || d.isInfinite) str(d.toString) else sb.append(d)
      case f: Float => go(f.toDouble)
      case n: java.math.BigDecimal => sb.append(n.toPlainString)
      case n: Number => sb.append(n.toString)
      case t: java.sql.Timestamp => str(t.toString)
      case t: java.time.Instant => str(t.toString)
      case t: java.time.LocalDateTime => str(t.toString)
      case m: scala.collection.Map[_, _] =>
        sb.append('{')
        m.zipWithIndex.foreach { case ((k, v), i) =>
          if (i > 0) sb.append(',')
          str(k.toString); sb.append(':'); go(v)
        }
        sb.append('}')
      case r: Row => go(r.toSeq)
      case a: Array[_] => go(a.toSeq)
      case s: Iterable[_] =>
        sb.append('[')
        s.zipWithIndex.foreach { case (y, i) => if (i > 0) sb.append(','); go(y) }
        sb.append(']')
      case o => str(o.toString)
    }
    go(v)
    sb.toString
  }
}

/** olap_cached and olap_scaled: one closed-loop client running the plan's
  * ops back to back for the measured window.
  */
object OlapRun {
  private val tableNames = Seq("lineitem", "orders", "customer", "events", "documents", "embeddings")
  private val scaledTables = Seq("lineitem", "orders", "customer", "events")

  def apply(ctx: Ctx, scaled: Boolean): Unit = {
    import ctx._
    val n = if (scaled) sys.props.getOrElse("perfbench.scale", "4").toInt else 1
    val scaledDir = s"$scratch/scaled"
    var frames = Map.empty[String, DataFrame]
    var seriesDf: DataFrame = null
    val sizes = mutable.Map[String, Long]()

    def setupCached(): Unit = {
      frames = tableNames.map { t =>
        val df = Tables.read(spark, dataDir, t).persist(StorageLevel.MEMORY_AND_DISK)
        sizes(t) = df.count()
        t -> df
      }.toMap
      seriesDf = Series.attachPosRanged(frames("events"), Seq("event_type"),
        Seq(col("ts"), col("event_id"))).persist(StorageLevel.MEMORY_AND_DISK)
      seriesDf.count()
    }

    // ×N replication with key shifts, as graft.ScaleSmoke does, laid out
    // through Tables.load and read back without any Spark cache
    def setupScaled(): Unit = {
      val reps = explode(sequence(lit(0L), lit(n - 1L)))
      def shift(c: String) = col(c) * n + col("__rep")
      scaledTables.foreach { t =>
        val base = spark.read.parquet(s"$dataDir/$t.parquet").withColumn("__rep", reps)
        val rep = (t match {
          case "lineitem" => base.withColumn("l_orderkey", shift("l_orderkey"))
          case "orders" => base.withColumn("o_orderkey", shift("o_orderkey"))
              .withColumn("o_custkey", shift("o_custkey"))
          case "customer" => base.withColumn("c_custkey", shift("c_custkey"))
          case "events" => base.withColumn("event_id", shift("event_id"))
              .withColumn("user_id", shift("user_id"))
        }).drop("__rep")
        val ts = t match {
          case "lineitem" => "l_shipdate"; case "orders" => "o_orderdate"
          case "customer" => "c_custkey"; case "events" => "ts"
        }
        Tables.load(rep, s"$scaledDir/$t.parquet", Seq(), ts)
      }
      frames = scaledTables.map { t =>
        val df = Tables.read(spark, scaledDir, t)
        sizes(t) = df.count()
        t -> df
      }.toMap
    }

    val (_, loadS) = Main.time(if (scaled) setupScaled() else setupCached())
    if (scaled) scaledTables.foreach(t => ctx.registerFiles(s"$scaledDir/$t.parquet"))
    else tableNames.foreach(t => ctx.registerFiles(s"$dataDir/$t.parquet"))
    val olap = new Olap(spark, tr, frames, () => seriesDf, if (scaled) scaledDir else dataDir)
    val plan = Main.readPlan(planFile)
    val shapes = plan.map(_.shape).distinct
    // warm-up: one op per shape from the plan's tail, never measured
    val (_, warmS) = Main.time(shapes.foreach { s =>
      val w = plan.reverseIterator.find(_.shape == s).get
      olap.run(w.copy(id = -1))
    })
    ctx.out("load_s") = loadS
    ctx.out("setup_work_s") = loadS + warmS
    ctx.out("warmup_s") = warmS

    spark.sparkContext.setLocalProperty(Props.Role, "olap")
    val ops = mutable.ArrayBuffer[OpRec]()
    val checks = mutable.ArrayBuffer[Map[String, Any]]()
    ctx.beginMeasure()
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    val it = plan.iterator.take(plan.size - shapes.size)
    // the window closes at the first deck boundary after the deadline, so
    // every run covers each shape equally often
    while ((System.nanoTime() < deadline || ops.size % shapes.size != 0) && it.hasNext) {
      val op = it.next()
      val t = System.nanoTime()
      val r = scala.util.Try(tr.span("op", op.id)(olap.run(op)))
      val e = System.nanoTime()
      val rows = r.map(_._2.length.toLong).getOrElse(0L)
      ops += OpRec(op.id, op.shape, t, e, r.isSuccess, rows,
        olap.rowsCovered(op.shape, sizes.toMap), r.failed.map(_.toString).getOrElse(""))
      r.foreach { case (cols, rs) =>
        if (checks.size < 40)
          checks += Map("id" -> op.id, "shape" -> op.shape, "cols" -> cols.toSeq,
            "rows" -> rs.toSeq.map(_.toSeq))
      }
    }
    ctx.endMeasure()
    ctx.out("elapsed_s") = (ops.lastOption.map(_.endNs).getOrElse(start) - start) / 1e9
    ctx.out("ops") = ops.map(opJson)
    ctx.out("checks") = checks
    ctx.out("inputs") = Map("tables" -> sizes.toMap, "replication_n" -> n,
      "cached" -> !scaled, "shapes" -> shapes)
  }

  def opJson(o: OpRec): Map[String, Any] = Map("id" -> o.id, "kind" -> o.kind,
    "start_ns" -> o.startNs, "ms" -> (o.endNs - o.startNs) / 1e6, "ok" -> o.ok,
    "rows_out" -> o.rowsOut, "rows_covered" -> o.rowsCovered, "err" -> o.err.take(300))
}

/** landing_mixed: a writer landing seeded doc batches through
  * Streams.dedupIngestBatch (even batches with retention and an incremental
  * compaction of the bucket table), and a reader that scans the newest
  * batches of the doc table at the same time.
  */
object LandingRun {
  val batchSize = 200
  val retainBatches = 2
  val readWindow = 1
  val minBatches = 2
  val batchNs = 1000000000L
  val baseNs = 1800000000L * 1000000000L
  val firstBatch = 2
  /** Even batches after the corpus carry maintenance: retention and a
    * bucket-table fold. The warm-up batch is plain; the two measured
    * batches are one of each.
    */
  def isMaint(batch: Int): Boolean = batch > 0 && batch % 2 == 0
  def tsOf(batch: Long): Long = baseNs + batch * batchNs

  def apply(ctx: Ctx): Unit = {
    import ctx._
    val landDir = s"$scratch/land"
    val docPath = s"$landDir/docs.parquet"
    val bucketPath = s"$landDir/buckets"
    // retention keeps every doc within retainBatches of the newest one
    val retainNs = retainBatches * batchNs - 1
    val schema = StructType(Seq(StructField("id", LongType), StructField("ts", LongType),
      StructField("text", StringType)))
    // header: batch, id, ts, kind, src, text
    val src = scala.io.Source.fromFile(s"$dataDir/landing.tsv")
    val byBatch: Map[Int, java.util.List[Row]] =
      try src.getLines().drop(1).map(_.split('\t')).toSeq
        .groupBy(_(0).toInt).map { case (b, rs) =>
          b -> rs.map(r => Row(r(1).toLong, r(2).toLong, r(5))).sortBy(_.getLong(0)).asJava
        }
      finally src.close()
    val nBatches = byBatch.keys.max + 1
    def land(b: Int, maint: Boolean): Unit = {
      val df = spark.createDataFrame(byBatch(b), schema)
      tr.span("ingest") {
        Streams.dedupIngestBatch(df, docPath, bucketPath, "ts", "perfbench-land", "id", "text",
          5, 8, 2, b.toLong, if (maint) retainNs else Long.MaxValue)
      }
      if (maint) tr.span("compact") {
        Tables.compactIncremental(spark, bucketPath, Seq("band", "bucket"), "ts")
      }
    }
    // set-up: the corpus lands as batch 0 and the bucket table is folded
    val (_, loadS) = Main.time {
      land(0, maint = false)
      Tables.compactIncremental(spark, bucketPath, Seq("band", "bucket"), "ts")
    }
    // one unmeasured batch and one read of each kind warm the plans
    val (_, warmS) = Main.time {
      land(1, maint = isMaint(1))
      read(ctx, docPath, landDir, 1, 0)
      read(ctx, docPath, landDir, 1, 1)
    }
    ctx.out("load_s") = loadS
    ctx.out("setup_work_s") = loadS + warmS
    ctx.out("warmup_s") = warmS
    Seq(docPath, bucketPath).foreach(ctx.registerFiles)

    val committed = new AtomicLong(firstBatch - 1)
    val stop = new AtomicBoolean(false)
    val writerOps = java.util.Collections.synchronizedList(new java.util.ArrayList[OpRec]())
    val readerOps = java.util.Collections.synchronizedList(new java.util.ArrayList[OpRec]())
    val readerChecks = java.util.Collections.synchronizedList(new java.util.ArrayList[Map[String, Any]]())
    val opIds = new AtomicLong(0)
    ctx.beginMeasure()
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    val writer = new Thread(() => {
      spark.sparkContext.setLocalProperty(Props.Role, "writer")
      var b = firstBatch
      while ((System.nanoTime() < deadline || b < firstBatch + minBatches) && b < nBatches) {
        val id = opIds.getAndIncrement()
        val maint = isMaint(b)
        val t = System.nanoTime()
        val r = scala.util.Try(tr.span("op", id)(land(b, maint)))
        val e = System.nanoTime()
        writerOps.add(OpRec(id, if (maint) "write_maint" else "write", t, e, r.isSuccess, 0L,
          batchSize, r.failed.map(_.toString).getOrElse("")))
        Seq(docPath, bucketPath).foreach(ctx.registerFiles)
        if (r.isSuccess) committed.set(b) else stop.set(true)
        b += 1
      }
      stop.set(true)
    }, "perfbench-writer")
    val reader = new Thread(() => {
      spark.sparkContext.setLocalProperty(Props.Role, "reader")
      var k = 0
      // the reader runs for as long as the writer does, so every batch
      // lands beside reads
      while (!stop.get()) {
        val id = opIds.getAndIncrement()
        val c = committed.get()
        val t = System.nanoTime()
        val r = scala.util.Try(tr.span("op", id)(read(ctx, docPath, landDir, c, k)))
        val e = System.nanoTime()
        readerOps.add(OpRec(id, "read", t, e, r.isSuccess, r.map(_.length.toLong).getOrElse(0L),
          0L, r.failed.map(_.toString).getOrElse("")))
        r.foreach(ids => readerChecks.add(Map("id" -> id, "committed" -> c,
          "window" -> readWindow, "ids" -> ids.toSeq)))
        k += 1
      }
    }, "perfbench-reader")
    writer.start(); reader.start()
    writer.join(); reader.join()
    ctx.endMeasure()
    val all = (writerOps.asScala ++ readerOps.asScala).toSeq
    ctx.out("elapsed_s") = (all.map(_.endNs).maxOption.getOrElse(start) - start) / 1e9
    ctx.out("ops") = all.sortBy(_.id).map(OlapRun.opJson)
    ctx.out("reader_checks") = readerChecks.asScala.toSeq
    ctx.out("committed_batch") = committed.get()
    ctx.out("first_batch") = firstBatch
    ctx.out("final_ids") = Tables.snapshot(spark, docPath).select("id").collect().map(_.getLong(0)).toSeq
    ctx.out("inputs") = Map("batch_docs" -> batchSize, "maint_every" -> 2,
      "retain_batches" -> retainBatches, "read_window_batches" -> readWindow,
      "corpus_docs" -> byBatch(0).size, "shares" -> Map("new" -> 0.70, "recrawl" -> 0.15,
        "neardup" -> 0.15))
    if (probe.isDefined) ctx.out("storage") = Storage.measure(spark, landDir, docPath, bucketPath)
  }

  /** One reader op: a pinned read of the newest `readWindow` committed
    * batches and the batch landing meanwhile, alternating rangeScan and
    * snapshot, with a small aggregate.
    */
  def read(ctx: Ctx, docPath: String, landDir: String, committed: Long, k: Int): Array[Long] = {
    import ctx._
    val from = tsOf(committed - readWindow + 1)
    val till = tsOf(committed + 2)
    Tables.withReaderPin(spark, docPath) {
      val df = tr.span(if (k % 2 == 0) "read:rangeScan" else "read:snapshot") {
        if (k % 2 == 0) Tables.rangeScan(spark, landDir, "docs", from, till)
        else Tables.snapshot(spark, docPath).filter(col("ts") >= from && col("ts") < till)
      }
      val row = tr.span("action") {
        df.agg(count(lit(1)).as("n"), sum(length(col("text"))).as("chars"),
          collect_list(col("id")).as("ids")).head()
      }
      row.getSeq[Long](2).toArray
    }
  }
}

/** Bytes and files of the landing tables at the end of a traced run. */
object Storage {
  def measure(spark: SparkSession, landDir: String, docPath: String,
              bucketPath: String): Map[String, Any] = {
    def files(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(files) else Seq(f)
    val all = files(new File(landDir))
    val state = all.filter { f =>
      val p = f.getPath
      f.getName.startsWith("_graft") || p.contains(".bloom") || p.contains(".fblooms") ||
        f.getName.contains(".gen.") || f.getName.contains(".append.")
    }
    val live = Seq(docPath, bucketPath).map(p =>
      Tables.manifest(spark, p).map(_.files.size).getOrElse(0)).sum
    val liveUser = Tables.snapshot(spark, docPath)
      .agg(sum(length(col("text")) + 16L)).head().getLong(0)
    Map("disk_bytes" -> all.map(_.length).sum, "state_bytes" -> state.map(_.length).sum,
      "files_live" -> live, "live_user_bytes" -> liveUser)
  }
}
