package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import graft.engine.{LocalStore, StateStore, Superstep, SuperstepMetrics}

/** Spans recorded from outside the program, around calls into its modules.
  * While a span is open, every Spark job the driver thread starts carries
  * the job group `pb:<rep>:<spanId>`, which [[TaskLog]] maps back to the
  * span. Spans stay in memory until the run writes them out.
  */
final class Tracer(sc: SparkContext) {
  final case class Span(rep: Int, id: Int, parent: Int, name: String,
      startNs: Long, var endNs: Long)

  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 0
  /** Repetition the next spans belong to; -1 turns tracing off. */
  var rep = -1
  /** Driver time spent opening and closing spans. */
  var costNs = 0L

  def enabled: Boolean = rep >= 0

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else { open(name); try f finally close() }

  def open(name: String): Unit = {
    val t0 = System.nanoTime()
    val s = Span(rep, nextId, stack.headOption.map(_.id).getOrElse(-1), name,
      System.nanoTime(), -1L)
    nextId += 1
    spans += s
    stack ::= s
    tag(s)
    costNs += System.nanoTime() - t0
  }

  def close(): Unit = {
    val s = stack.head
    s.endNs = System.nanoTime()
    stack = stack.tail
    stack.headOption match {
      case Some(p) => tag(p)
      case None    => sc.clearJobGroup()
    }
    costNs += System.nanoTime() - s.endNs
  }

  private def tag(s: Span): Unit = sc.setJobGroup(s"pb:${s.rep}:${s.id}", s.name)

  /** Runs a [[Superstep]]-driven algorithm. Traced, its time splits into
    * `<algo>.prep` (until the loop persists its initial state) and
    * `<algo>.superstep` (the loop), through the public `store` parameter.
    */
  def superstepLoop(algo: String)(
      run: StateStore => Superstep.RunResult): Superstep.RunResult =
    if (!enabled) run(new LocalStore)
    else {
      open(s"$algo.prep")
      try run(new RecordingStore(this, algo)) finally close()
    }

  def jsonLines: Seq[String] = spans.toSeq.map { s =>
    s"""{"rep":${s.rep},"id":${s.id},"parent":${s.parent},""" +
      s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }
}

/** LocalStore that closes the algorithm's prep span and opens its superstep
  * span when the loop persists iteration 0, as `BenchExtra.PlanStore` wraps
  * the same store to capture superstep plans.
  */
final class RecordingStore(tr: Tracer, algo: String) extends StateStore {
  private val inner = new LocalStore
  override def persist(state: DataFrame, iter: Int): DataFrame = {
    if (iter == 0) { tr.close(); tr.open(s"$algo.superstep") }
    inner.persist(state, iter)
  }
  override def log(m: SuperstepMetrics): Unit = inner.log(m)
  override def resumePoint(): Option[(Int, DataFrame)] = None
  override def release(state: DataFrame): Unit = inner.release(state)
}

/** Records every finished task and started job whose job group was set by
  * a [[Tracer]] span, as JSON lines.
  */
final class TaskLog extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]
  val tasks = new ConcurrentLinkedQueue[String]
  val jobs = new ConcurrentLinkedQueue[String]
  /** Listener-thread time spent in these callbacks. */
  val costNs = new AtomicLong

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    f
    costNs.addAndGet(System.nanoTime() - t0)
  }

  private def group(p: java.util.Properties): Option[(Int, Int)] =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("pb:")).map { g =>
        val parts = g.split(":")
        (parts(1).toInt, parts(2).toInt)
      }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    group(e.properties).foreach { case (rep, span) =>
      jobs.add(s"""{"rep":$rep,"span":$span,"job":${e.jobId}}""")
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
    group(e.properties).foreach { case (rep, span) =>
      stageGroup.put(e.stageInfo.stageId, s"$rep:$span")
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val g = stageGroup.get(e.stageId)
    if (g != null) {
      val Array(rep, span) = g.split(":").take(2)
      val m = e.taskMetrics
      val (run, sw, spill, gc) =
        if (m == null) (0L, 0L, 0L, 0L)
        else (m.executorRunTime, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled, m.jvmGCTime)
      val failed = e.reason != org.apache.spark.Success
      tasks.add(s"""{"rep":$rep,"span":$span,"stage":${e.stageId},""" +
        s""""dur_ms":${e.taskInfo.duration},"run_ms":$run,""" +
        s""""shuffle_write_b":$sw,"spill_b":$spill,"gc_ms":$gc,""" +
        s""""failed":$failed}""")
    }
  }
}
