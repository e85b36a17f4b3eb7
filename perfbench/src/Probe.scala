package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Local properties the client threads set; Spark copies them into every
  * job they submit, which is how jobs, stages and tasks are tied to ops.
  * The job group is left alone for the library's own use.
  */
object Props {
  val Op = "perfbench.op"
  val Span = "perfbench.span"
  val Role = "perfbench.role"
}

final case class Span(id: Long, parent: Long, name: String, op: Long,
                      startNs: Long, endNs: Long)

/** Named counters that only count while `active` (the measured window). */
final class Counters {
  @volatile var active = false
  private val m = new ConcurrentHashMap[String, DoubleAdder]()
  def add(k: String, v: Double): Unit =
    if (active) m.computeIfAbsent(k, _ => new DoubleAdder).add(v)
  def snapshot: Map[String, Double] = m.asScala.map { case (k, v) => k -> v.sum }.toMap
}

/** Span recorder for traced runs: spans stay in memory until the run
  * ends. Times are `System.nanoTime`; Spark's epoch-ms event times are
  * mapped onto the same clock.
  */
final class Tracer(val on: Boolean, sc: SparkContext) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }
  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def epochToNano(ms: Long): Long = nano0 + (ms - epochMs0) * 1000000L
  def newId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = spans.add(s)
  def all: Seq[Span] = spans.asScala.toSeq

  /** Runs `f` in a span named `name`. `op >= 0` opens an op (a root span);
    * nested calls inherit the enclosing op. While inside, the span and op
    * ids are the thread's Spark local properties, so every job submitted
    * from `f` names this span as its parent.
    */
  def span[T](name: String, op: Long = -1L)(f: => T): T =
    if (!on) f
    else {
      val st = stack.get
      val parent = st.headOption.map(_._1).getOrElse(0L)
      val opId = if (op >= 0) op else st.headOption.map(_._2).getOrElse(-1L)
      val id = newId()
      val prevSpan = sc.getLocalProperty(Props.Span)
      val prevOp = sc.getLocalProperty(Props.Op)
      stack.set((id, opId) :: st)
      sc.setLocalProperty(Props.Span, id.toString)
      sc.setLocalProperty(Props.Op, opId.toString)
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, parent, name, opId, t0, System.nanoTime()))
        stack.set(st)
        sc.setLocalProperty(Props.Span, prevSpan)
        sc.setLocalProperty(Props.Op, prevOp)
      }
    }
}

/** Spark-side counters of a traced run: a SparkListener for jobs, stages
  * and tasks, and a QueryExecutionListener for planning phases and the
  * executed plan's shape. Only jobs submitted inside an op are counted.
  */
private final case class JobRec(op: Long, parent: Long, spanId: Long, startMs: Long)

final class Probe(tracer: Tracer, val c: Counters) extends SparkListener
    with QueryExecutionListener {
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private val stageShuffle = new ConcurrentHashMap[(Int, Int), ConcurrentLinkedQueue[Long]]()
  /** Job intervals (op, startNs, endNs) for the driver-only time of ops. */
  val jobIntervals = new ConcurrentLinkedQueue[(Long, Long, Long)]()
  /** Data files per table dir, for the files a read pruned. */
  val tableFiles = new ConcurrentHashMap[String, Integer]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val op = p.flatMap(x => Option(x.getProperty(Props.Op))).map(_.toLong).getOrElse(-1L)
    if (c.active && op >= 0) {
      val parent = p.flatMap(x => Option(x.getProperty(Props.Span))).map(_.toLong).getOrElse(0L)
      val rec = JobRec(op, parent, tracer.newId(), e.time)
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(s => stageJob.put(s, rec))
      c.add("exec.jobs", 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.remove(e.jobId)).foreach { r =>
      val s = tracer.epochToNano(r.startMs)
      val t = tracer.epochToNano(e.time)
      jobIntervals.add((r.op, s, t))
      tracer.add(Span(r.spanId, r.parent, "job", r.op, s, t))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    Option(stageJob.get(info.stageId)).foreach { r =>
      c.add("exec.stages", 1)
      for (s <- info.submissionTime; t <- info.completionTime)
        tracer.add(Span(tracer.newId(), r.spanId, "stage", r.op,
          tracer.epochToNano(s), tracer.epochToNano(t)))
      Option(stageShuffle.remove((info.stageId, info.attemptNumber()))).foreach { q =>
        val b = q.asScala.toSeq.sorted
        if (b.size >= 2 && b.sum > 0) {
          val med = b(b.size / 2).toDouble
          c.add("shuffle.skew_sum", b.last / math.max(med, 1.0))
          c.add("shuffle.skew_n", 1)
        }
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (stageJob.containsKey(e.stageId) && e.taskMetrics != null) {
      val m = e.taskMetrics
      val i = e.taskInfo
      c.add("exec.tasks", 1)
      c.add("exec.task_run_ms", m.executorRunTime.toDouble)
      c.add("exec.task_cpu_ms", m.executorCpuTime / 1e6)
      c.add("exec.task_gc_ms", m.jvmGCTime.toDouble)
      val gettingResult = if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
      val delay = (i.finishTime - i.launchTime) - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult
      c.add("exec.sched_delay_ms", math.max(0L, delay).toDouble)
      c.add("scan.bytes_read", m.inputMetrics.bytesRead.toDouble)
      c.add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      val rd = m.shuffleReadMetrics.totalBytesRead
      c.add("shuffle.read_bytes", rd.toDouble)
      if (rd > 0)
        stageShuffle.computeIfAbsent((e.stageId, e.stageAttemptId),
          _ => new ConcurrentLinkedQueue[Long]()).add(rd)
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (c.active) {
      val ph = qe.tracker.phases
      def ms(k: String): Double = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      c.add("plan.analysis_ms", ms("analysis"))
      c.add("plan.optimizer_ms", ms("optimization"))
      c.add("plan.physical_ms", ms("planning"))
      c.add("plan.executions", 1)
      Probe.walk(qe.executedPlan) {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => c.add("plan.exchanges", 1)
        case _: WholeStageCodegenExec => c.add("plan.codegen_stages", 1)
        case s: InMemoryTableScanExec =>
          c.add("scan.inmem_scans", 1)
          s.metrics.get("numOutputRows").foreach(x => c.add("scan.rows_read", x.value.toDouble))
        case s: FileSourceScanExec =>
          c.add("scan.file_scans", 1)
          val read = s.metrics.get("numFiles").map(_.value).getOrElse(0L)
          c.add("scan.files_read", read.toDouble)
          s.metrics.get("numOutputRows").foreach(x => c.add("scan.rows_read", x.value.toDouble))
          val dirs = s.relation.location.rootPaths.map { p =>
            val k = p.toUri.getPath.stripSuffix("/")
            if (tableFiles.containsKey(k)) k else p.getParent.toUri.getPath.stripSuffix("/")
          }.distinct
          val total = dirs.flatMap(d => Option(tableFiles.get(d))).map(_.intValue).sum
          if (total > 0) c.add("scan.files_pruned", math.max(0L, total - read).toDouble)
          if (dirs.exists(_.contains("/buckets"))) c.add("streaming.probe_files_read", read.toDouble)
        case _ =>
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Probe {
  /** Visits every node of an executed plan, descending through adaptive
    * plans, query stages and subqueries; reused exchanges are not re-walked.
    */
  def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
    case q: QueryStageExec => walk(q.plan)(f)
    case r: ReusedExchangeExec => ()
    case other =>
      f(other)
      other.children.foreach(walk(_)(f))
      other.subqueries.foreach(walk(_)(f))
  }

  /** Length of the union of [s, e) intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Local filesystem that counts the calls made through it, by the client
  * role (writer, reader, olap) of the thread or task that made them, and
  * the bytes written. Installed for traced runs through a `core-site.xml`
  * on the classpath, so every Hadoop configuration in the JVM resolves
  * `file:` to it.
  */
class CountingLocalFs extends LocalFileSystem {
  import CountingLocalFs._
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    count("create")
    val inner = super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
    val key = role()
    new FSDataOutputStream(new java.io.OutputStream {
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        inner.write(b, off, len); counters.add(s"$key.bytes_written", len.toDouble)
      }
      override def write(b: Int): Unit = {
        inner.write(b); counters.add(s"$key.bytes_written", 1)
      }
      override def flush(): Unit = inner.flush()
      override def close(): Unit = inner.close()
    }, null)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    count("open"); super.open(f, bufferSize)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    count("rename"); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    count("delete"); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    count("mkdirs"); super.mkdirs(f, permission)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    count("list"); super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    count("status"); super.getFileStatus(f)
  }
}

object CountingLocalFs {
  val counters = new Counters
  @volatile var sc: SparkContext = _
  def role(): String = {
    val r = Option(TaskContext.get()).map(_.getLocalProperty(Props.Role))
      .orElse(Option(sc).map(_.getLocalProperty(Props.Role)))
    r.flatMap(Option(_)).getOrElse("other")
  }
  private def count(op: String): Unit = counters.add(s"${role()}.fs.$op", 1)
}
