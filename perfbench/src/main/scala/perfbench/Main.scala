package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Runs one workload of the benchmark in this JVM and writes its raw
  * measurements as JSON; `run.py` turns them into metrics.
  *
  *   Main <workload> <seconds> <trace 0|1> <cores> <seed> <data dir> <work dir> <out json>
  *
  * The session comes from the user-facing factory `graft.Graft.session`.
  * Set-up (loading and deriving tables, warm-up passes) happens before
  * the timed phase. The timed phase is a closed loop with one client:
  * this thread issues each operation after the previous one finished,
  * in whole passes.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(name, secondsS, traceS, coresS, seedS, data, work, out) = args
    // end with the launching process, which holds this JVM's stdin open
    val watch = new Thread(() => {
      try while (System.in.read() >= 0) {} catch { case NonFatal(_) => }
      Runtime.getRuntime.halt(3)
    })
    watch.setDaemon(true)
    watch.start()
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val cores = coresS.toInt
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.Graft.session(appName = "perfbench", master = s"local[$cores]",
      shufflePartitions = cores)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0

    val spans = new Spans
    val runner = new Runner(spans)
    // each workload has two parts, which run their warm-up and timed
    // passes in turn in the same closed loop
    val parts: Seq[Workload] = name match {
      case "etl_sql" => Seq(new F1Etl(spark, work),
        new Queries(spark, work, seedS.toLong, Queries.Tpch, warmupPasses = 1,
          nominalPassSeconds = 10.0))
      // a warm-up stream cycle costs 18-25 s, more than the run budget
      // holds; the timed cycle follows the curation passes instead
      case "curate_stream" => Seq(new CurateDocs(spark, work),
        new Queries(spark, work, seedS.toLong, Seq(Queries.StreamKey), warmupPasses = 0,
          nominalPassSeconds = 13.0))
    }
    val deriveS = timed(parts.foreach(_.derive(data)))
    val warmS = timed(parts.foreach(w => (1 to w.warmupPasses).foreach(_ => w.pass(runner, warmup = true))))
    runner.ops.clear()

    // Every run measures the same whole passes: per part, as many as fill
    // `seconds` at its nominal pass time, so runs compare like for like.
    // After each part's passes, off the clock, full GCs give the live heap.
    var timedNs = 0L
    var gcMs = 0L
    var heapPeak = 0L
    def timedPasses(of: Seq[Workload]): Unit = of.foreach { w =>
      (1 to math.max(1, math.ceil(seconds / w.nominalPassSeconds).toInt)).foreach { _ =>
        val g = gcMillis
        val t = System.nanoTime()
        w.pass(runner, warmup = false)
        timedNs += System.nanoTime() - t
        gcMs += gcMillis - g
      }
      heapPeak = math.max(heapPeak, liveHeap())
    }
    // A traced run brackets its traced passes with untraced passes of the
    // first part on each side, so that warming during the run does not
    // bias the traced/untraced latency ratio it reports as overhead.
    val trace = new Trace(spark)
    val (tracedFrom, tracedTo) =
      if (!traced) { timedPasses(parts); (0, 0) }
      else {
        timedPasses(parts.take(1))
        val from = runner.ops.size
        trace.attach()
        spans.enabled = true
        timedPasses(parts)
        parts.foreach(_.layers(runner))
        val to = runner.ops.size
        spans.enabled = false
        trace.drain()
        trace.detach()
        timedPasses(parts.take(1))
        (from, to)
      }
    val failedKinds = parts.flatMap { w =>
      try w.check() catch {
        case NonFatal(e) => System.err.println(s"[perfbench] check failed: $e"); Set("*")
      }
    }.toSet
    val ops = runner.ops.map(o =>
      if (failedKinds("*") || failedKinds(o.kind)) o.copy(ok = false) else o).toSeq
    val perOp = if (traced) trace.perOp(ops) else Map.empty[Int, Map[String, Double]]

    val raw = Map(
      "workload" -> name, "cores" -> cores, "session_s" -> sessionS,
      "derive_s" -> deriveS, "warmup_s" -> warmS, "timed_s" -> timedNs / 1e9,
      "traced_from" -> tracedFrom, "traced_to" -> tracedTo, "gc_ms" -> gcMs.toDouble,
      "heap_peak_bytes" -> heapPeak.toDouble, "store_bytes" -> parts.map(_.storeBytes).sum.toDouble,
      "ops" -> ops.map(o => Map("id" -> o.id, "kind" -> o.kind,
        "ms" -> o.nanos / 1e6, "ok" -> o.ok) ++ perOp.getOrElse(o.id, Map.empty)),
      "spans" -> spans.all.toSeq.map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "op" -> s.op, "start_ms" -> s.startNs / 1e6, "end_ms" -> s.endNs / 1e6)),
      "batches" -> (if (traced) trace.batches(ops) else Nil),
      "counters" -> parts.flatMap(_.counters).toMap,
      "outputs" -> parts.flatMap(_.outputs))
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new java.io.File(out), raw)
    spark.stop()
    sys.exit(0)
  }

  /** Heap in use after a full GC. Spark's ContextCleaner releases the
    * blocks of collected RDDs and broadcasts asynchronously, so the heap
    * after a GC keeps falling for a few rounds (259, 136, 88, 88 MB after
    * a TPC-H pass): collect until it stops falling.
    */
  def liveHeap(): Long = {
    def collected(): Long = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var prev = Long.MaxValue
    var cur = collected()
    var rounds = 0
    while (cur < prev * 0.98 && rounds < 8) {
      prev = cur
      Thread.sleep(150)
      cur = collected()
      rounds += 1
    }
    math.min(prev, cur)
  }

  def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  def timed(body: => Unit): Double = {
    val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9
  }

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally walk.close()
    }
  }

  def dirBytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val walk = Files.walk(p)
      try walk.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally walk.close()
    }
  }
}

/** Issues the closed loop's operations and records their windows. */
final class Runner(val spans: Spans) {
  val ops = mutable.ArrayBuffer.empty[Op]

  def op(kind: String)(body: => Boolean): Boolean = {
    val id = ops.size
    spans.currentOp = id
    val startMs = System.currentTimeMillis()
    val t = System.nanoTime()
    val ok = try spans(s"op.$kind")(body) catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] $kind failed: $e")
        false
    }
    ops += Op(id, kind, startMs, System.currentTimeMillis(), System.nanoTime() - t, ok)
    spans.currentOp = -1
    ok
  }
}

/** One part of a benchmark workload: its derived tables, one pass of
  * operations, the layer decomposition of the traced run and the output
  * checks.
  */
trait Workload {
  /** Load and derive tables from the inputs at `dir`. */
  def derive(dir: String): Unit
  def pass(r: Runner, warmup: Boolean): Unit
  /** Traced run only: materialize each layer of one operation on its own. */
  def layers(r: Runner): Unit = ()
  /** Kinds of operation whose output failed its check ("*" for all). */
  def check(): Set[String]
  /** Untraced passes before the timed phase, so it starts JIT-warm. */
  def warmupPasses: Int
  /** Time of one warm pass on this 4-core host; sets the timed pass count. */
  def nominalPassSeconds: Double
  def storeBytes: Long
  def counters: Map[String, Double] = Map.empty
  /** Landed results for `run.py` to check: op, key, path, oracle SQL. */
  def outputs: Seq[Map[String, Any]] = Nil
}

object Materialize {
  /** Runs `df` to completion through the `noop` sink, which keeps every
    * operator of the plan (a `count()` lets the optimizer prune sorts,
    * exchanges and projections), and returns the row count observed in
    * the same job.
    */
  def noop(df: DataFrame): Long = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
    obs.get("n").asInstanceOf[Long]
  }

  /** Row count and an order-independent hash (the sum of per-row 64-bit
    * hashes, sensitive to every value and to duplicate rows).
    */
  def fingerprint(df: DataFrame): (Long, BigDecimal) = {
    val h = sum(xxhash64(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*).cast("decimal(38,0)"))
    val r = df.agg(count(lit(1)), h).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }
}
