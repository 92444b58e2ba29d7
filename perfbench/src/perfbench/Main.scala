package perfbench

import java.io.File

import scala.collection.immutable.ListMap
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: seeded inputs, an untimed set-up on a
  * small slice of them, repeated timed set-up, then a closed loop of ops on one client thread for the measured time. Writes the
  * raw record (set-up times, per-op timings, checks, Spark counters and, in
  * a traced run, spans) as JSON for `run.py` to reduce.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <cores>
  *        <work dir> <out file> */
object Main {

  private val t00 = System.nanoTime()
  /** Progress line on stderr (the run log), with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t00) / 1e9}%8.2f] $msg")

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, cores, work, out) = args
    val seed = seedS.toLong
    val traced = traceS == "1"
    val w = Workloads(workload, work, seed, traced)

    // the cold JVM writes the inputs and sets up once on their small slice,
    // untimed, so that the timed set-ups run warm
    var spark = session(cores, work)
    w.prepare(spark)
    log("inputs written")
    w.setup(spark, new Trace(false), small = true)
    log("untimed set-up done")

    var counters: SparkCounters = null
    val trace = new Trace(traced)
    val setupS = (1 to w.setupReps).map { rep =>
      spark.stop()
      val t0 = System.nanoTime()
      spark = session(cores, work)
      val sessionNs = System.nanoTime() - t0
      counters = new SparkCounters
      spark.sparkContext.addSparkListener(counters)
      // the traced run traces the last set-up as op -1
      val t = if (rep == w.setupReps) trace else new Trace(false)
      t.beginOp(-1L)
      val t1 = System.nanoTime()
      SparkCounters.tagged(spark.sparkContext, "setup")(w.setup(spark, t, small = false))
      val secs = (sessionNs + System.nanoTime() - t1) / 1e9
      log(f"set-up $rep: $secs%.2f s")
      secs
    }
    val sc = spark.sparkContext
    val storedMb = sc.getRDDStorageInfo.map(_.memSize).sum / 1e6
    val setupCheck = SparkCounters.tagged(sc, "check")(w.checkSetup())
    log("set-up checked")
    SparkCounters.tagged(sc, "warm-up")(w.warmUp())
    log("warmed up")
    val ops = Vector.newBuilder[ListMap[String, Any]]
    val budgetNs = secondsS.toLong * 1000000000L
    val loopStart = System.nanoTime()
    var measuredNs = 0L
    var i = 0
    while ((i < w.checkOps || measuredNs < budgetNs || i % w.cycle != 0) &&
           System.nanoTime() - loopStart < 2 * budgetNs + 30000000000L) {
      val op = w.op(i)
      // (result, ns, start epoch ms, end epoch ms) of one call
      def timed[T](tag: String)(body: => T): (Either[Throwable, T], Long, Long, Long) = {
        val m0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val r = try Right(SparkCounters.tagged(sc, tag)(body))
                catch { case NonFatal(e) => Left(e) }
        (r, System.nanoTime() - t0, m0, System.currentTimeMillis())
      }
      def checked(r: Either[Throwable, op.Out]): Either[String, Checked] =
        r.left.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}")
          .flatMap(o => try Right(SparkCounters.tagged(sc, s"c:$i")(op.check(o)))
                        catch { case NonFatal(e) => Left(s"check: $e") })
      def runTraced() = { trace.beginOp(i.toLong); timed(s"t:$i")(op.traced(trace)) }
      // the traced run alternates which form goes first, so neither form
      // alone profits from the other's warm caches
      val (u, t) =
        if (!traced) (timed(s"u:$i")(op.call()), None)
        else if (i % 2 == 0) { val a = timed(s"u:$i")(op.call()); (a, Some(runTraced())) }
        else { val b = runTraced(); (timed(s"u:$i")(op.call()), Some(b)) }
      val cu = checked(u._1)
      val ct = t.map(x => checked(x._1))
      val problems = cu.fold(e => Seq(e), _.problems) ++ ct.toSeq.flatMap(
        _.fold(e => Seq(s"traced: $e"), c => c.problems.map("traced: " + _))) ++
        (for (a <- cu.toOption; b <- ct.flatMap(_.toOption)
              if a.digest != b.digest) yield "traced digest differs")
      val tracedNs = t.fold(0L)(_._2)
      measuredNs += u._2 + tracedNs
      ops += ListMap(
        "id" -> i, "kind" -> op.kind, "start_ms" -> u._3, "end_ms" -> u._4,
        "ns" -> u._2, "traced_ns" -> tracedNs,
        "digest" -> cu.fold(_ => "", _.digest),
        "problems" -> problems,
        "counts" -> (cu.toSeq.flatMap(_.counts) ++
          ct.toSeq.flatMap(_.toOption.toSeq.flatMap(_.counts))).toMap)
      log(f"op $i ${op.kind}: ${u._2 / 1e6}%.1f ms")
      i += 1
    }

    counters.drain(sc)
    val opRecords = ops.result().map { o =>
      val c = counters.get(s"u:${o("id")}")
      o + ("spark" -> ListMap(
        "jobs" -> c.fold(0)(_.jobs), "stages" -> c.fold(0)(_.stages),
        "tasks" -> c.fold(0)(_.tasks), "task_ms" -> c.fold(0L)(_.taskMs),
        "shuffle_bytes" -> c.fold(0L)(_.shuffleBytes),
        "job_spans" -> c.fold(Seq.empty[Seq[Long]])(_.jobSpans.map(s => Seq(s._1, s._2)).toSeq)))
    }
    val record = ListMap(
      "workload" -> workload, "seed" -> seed, "trace" -> traced,
      "cores" -> cores.toInt, "check_ops" -> w.checkOps,
      "setup_s" -> setupS, "stored_mb" -> storedMb,
      "setup_check" -> ListMap("digest" -> setupCheck.digest,
        "problems" -> setupCheck.problems, "counts" -> setupCheck.counts),
      "writes" -> counters.writes.map { case (path, ms) =>
        ListMap("path" -> path, "ms" -> ms) },
      "ops" -> opRecords,
      "spans" -> trace.all.map(s => ListMap("op" -> s.op, "id" -> s.id,
        "parent" -> s.parent, "name" -> s.name, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs)))
    log("record built")
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new File(out), record)
    spark.stop()
    log("stopped")
  }

  /** The library's session configuration, with every file Spark writes
    * kept under the run's work directory. */
  def session(cores: String, work: String): SparkSession = {
    val s = graft.GraftSession.builder(cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
