package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.jobs.Jobs

/** One benchmark run in one JVM: set-up (session, input generation repeated
  * [[SetupReps]] times), then one timed repetition of the job in the cold
  * JVM, as a spark-submit job runs; `--seconds` is accepted and not used.
  * Every repetition's outputs are checked after its timed region. With
  * `--trace 1` that cold repetition is traced, and a linkgraph run then
  * repeats the job warm, untraced, at local[4] and at local[1].
  *
  * Writes `result.json` (and, traced, `spans.jsonl`, `tasks.jsonl`,
  * `jobs.jsonl`) under `--work`; `perfbench/run.py` turns them into metrics.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --work DIR --smoke 0|1
  */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val w = Workload(opts("workload"), opts.get("smoke").contains("1"))
    val seed = opts("seed").toLong
    val trace = opts("trace") == "1"
    val work = opts("work")
    val (in, out) = (s"$work/input", s"$work/output")

    val jvmStartS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val load0 = loadAverage()
    val (spark, sessionS) =
      Workload.seconds(Jobs.session(s"perfbench-${w.name}", w.aqe))
    val genS = (1 to SetupReps).map(_ => Workload.seconds(w.generate(spark, seed, in))._2)
    System.err.println(s"[perfbench] session $sessionS s, input ${genS.mkString(" ")} s")

    val sc = spark.sparkContext
    val tr = new Tracer(sc)
    val log = new TaskLog
    val reps = ArrayBuffer.empty[String]
    val checks = ArrayBuffer.empty[String]
    var broken = false

    def runRep(s: SparkSession, rep: Int, traced: Boolean, kind: String): Unit = {
      if (traced) { s.sparkContext.addSparkListener(log); tr.rep = rep; tr.open("job") }
      val alloc0 = allocatedBytes()
      val t0 = System.nanoTime()
      val stats =
        try Some(w.job(s, tr, in, out))
        catch { case e: Exception =>
          checks += checkJson(rep, Check("job", ok = false, e.toString))
          broken = true
          None
        } finally if (traced) { tr.close(); tr.rep = -1 }
      val sec = (System.nanoTime() - t0) / 1e9
      val allocMb = (allocatedBytes() - alloc0) / 1048576.0
      System.err.println(s"[perfbench] rep $rep $kind traced=$traced job $sec s")
      if (traced) {
        org.apache.spark.perfbench.ListenerBridge.drain(s.sparkContext)
        s.sparkContext.removeSparkListener(log)
      }
      stats.foreach { st =>
        reps += s"""{"rep":$rep,"kind":"$kind","traced":$traced,"job_s":$sec,""" +
          s""""alloc_mb":$allocMb,""" +
          st.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }
            .mkString(""""stats":{""", ",", "}}")
        val cs =
          try w.check(s, in, out, st)
          catch { case e: Exception => Seq(Check("check", ok = false, e.toString)) }
        cs.foreach(c => checks += checkJson(rep, c))
        System.err.println(s"[perfbench] rep $rep checks ${cs.mkString(" ")}")
      }
      s.catalog.clearCache()
      System.gc()
    }

    runRep(spark, 0, traced = trace, "timed")
    val peakRssMb = vmHwmMb()
    val load1 = loadAverage()

    if (trace && w.name == "linkgraph" && !broken) {
      // the same job warm on four cores, then on one core
      runRep(spark, 1, traced = false, "warm")
      spark.stop()
      sys.props("spark.master") = "local[1]"
      sys.props("spark.sql.shuffle.partitions") =
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
      val one = Jobs.session(s"perfbench-${w.name}-1core", w.aqe)
      runRep(one, 2, traced = false, "one_core")
      one.stop()
    } else spark.stop()

    val dir = Paths.get(work)
    Files.writeString(dir.resolve("result.json"),
      s"""{"workload":"${w.name}","seed":$seed,"jvm_start_s":$jvmStartS,""" +
        s""""session_s":$sessionS,"gen_s":${genS.mkString("[", ",", "]")},""" +
        s""""load1":[$load0,$load1],"peak_rss_mb":$peakRssMb,""" +
        s""""trace_cost_s":${(tr.costNs + log.costNs.get) / 1e9},""" +
        s""""reps":${reps.mkString("[", ",", "]")},""" +
        s""""checks":${checks.mkString("[", ",", "]")}}""")
    if (trace) {
      def lines(name: String, xs: Iterable[String]) =
        Files.write(dir.resolve(name), xs.asJava)
      lines("spans.jsonl", tr.jsonLines)
      lines("tasks.jsonl", log.tasks.asScala)
      lines("jobs.jsonl", log.jobs.asScala)
    }
    sys.exit(0)
  }

  private def checkJson(rep: Int, c: Check): String =
    s"""{"rep":$rep,"name":"${c.name}","ok":${c.ok},""" +
      s""""detail":"${c.detail.replace("\\", "\\\\").replace("\"", "'")
        .replace("\n", " ")}"}"""

  private def loadAverage(): Double =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0).toDouble

  /** Heap bytes allocated by all threads of this JVM so far. */
  private def allocatedBytes(): Long = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean].getTotalThreadAllocatedBytes

  /** High-water resident set size of this JVM, in MB. */
  private def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}
