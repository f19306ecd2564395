package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.commons.math3.special.Beta
import org.apache.spark.sql.SparkSession

/** One benchmark process: set up a `local[4]` session, then run
  * closed-loop passes over one workload's queries.
  *
  * A pass runs every query once, one at a time, in an order drawn from
  * the seed. Pass 0 is the cold pass of this JVM; pass 1 is a warm-up
  * pass, still JIT-warming, and is dropped; the later passes are measured
  * until `--seconds` have gone by. Untraced, each query is timed as one
  * span: the library call `SparkEntry.queries(name)(spark, dir)` plus a
  * `noop` write. Traced (`--trace 1`), the library call,
  * `queryExecution.executedPlan` and the write are timed apart, Spark
  * listeners attribute jobs to them, and measured passes alternate traced
  * and untraced so that the tracing overhead is measured in the same JVM.
  *
  * Results go to the JSON file named by `--out`; `run.py` reads it. */
object Main {
  val Cores = 4

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val launchedNs = opt("launched").toLong
    val dir = opt("data")
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", opt("tmp"))
      .config("spark.sql.warehouse.dir", s"${opt("tmp")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (epochNs() - launchedNs) / 1e9
    // Read every table's footer and load the catalog object: the session
    // is then ready for its first query. No query runs during set-up.
    graft.Tables.names.foreach(n => graft.Tables.load(spark, dir, n).schema)
    val footersS = (epochNs() - launchedNs) / 1e9 - sessionS
    val catalog = graft.SparkEntry.queries
    val setupS = (epochNs() - launchedNs) / 1e9

    val out = mutable.LinkedHashMap[String, Any]("setup_s" -> setupS,
      "setup_session_s" -> sessionS, "setup_footers_s" -> footersS)
    val queries = opt("queries").split(",").toSeq
    val missing = queries.filterNot(catalog.contains)
    require(missing.isEmpty, s"queries not in the catalog: ${missing.mkString(" ")}")
    val run = new Run(spark, dir, queries, opt("seed").toLong, opt("seconds").toDouble,
      traced = opt("trace") == "1", spansPath = opt("spans"))
    out ++= run.execute()
    val v0 = System.nanoTime()
    verify(spark, dir, opt("verify"), queries)
    out += "verify_s" -> (System.nanoTime() - v0) / 1e9
    Files.writeString(Paths.get(opt("out")), Json.obj(out.toSeq))
    spark.stop()
  }

  def epochNs(): Long = {
    val i = Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  /** The engine's own correctness dump, run unchanged and untimed on the
    * workload's queries; `run.py` then compares it with the oracle. */
  private def verify(spark: SparkSession, dir: String, outDir: String, queries: Seq[String]): Unit =
    graft.Verify.main((Seq(dir, outDir) ++ queries).toArray)
}

/** One query of one pass: its time, split by layer when traced. */
final case class Q(name: String, total: Double, construct: Double, plan: Double,
    execute: Double, phases: Map[String, Double])

/** One pass over the workload, and the JVM state after it. */
final case class Pass(index: Int, traced: Boolean, qs: Seq[Q], gcS: Double,
    storageMb: Double, rdds: Int) {
  def wall: Double = qs.map(_.total).sum
}

/** The passes of one run and the metrics they produce. */
final class Run(spark: SparkSession, dir: String, queries: Seq[String], seed: Long,
    seconds: Double, traced: Boolean, spansPath: String) {

  private val catalog = graft.SparkEntry.queries
  private val sc = spark.sparkContext
  private val confAtSetup = spark.conf.getAll
  private val drift = mutable.LinkedHashMap[String, String]()   // conf key -> first query seen
  private val failed = mutable.LinkedHashSet[String]()
  private val rng = new Random(seed)
  private val tracer = new Tracer(spark)

  def execute(): Seq[(String, Any)] = {
    val passes = mutable.ArrayBuffer[Pass]()
    passes += pass(0, traced)
    // JIT and codegen caches are still warming in the first warm pass.
    passes += pass(1, tracedPass = false)
    // Measured passes until `seconds` have gone by: at least three, or two
    // pairs when traced. A traced run alternates traced and untraced
    // passes, starting each pair with the other kind, and ends on a whole
    // pair, so that warm-up drift cancels out of the overhead.
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val minPasses = if (traced) 6 else 5
    def done = passes.size >= minPasses && (elapsed >= seconds || passes.size >= 60) &&
      !(traced && passes.size % 2 == 1)
    while (!done) {
      val j = passes.size - 2
      passes += pass(passes.size, traced && ((j % 2 == 1) ^ (j / 2 % 2 == 1)))
    }
    val heapMb = heapAfterGcMb()
    val warm = passes.drop(2).toSeq
    val untracedWarm = warm.filterNot(_.traced)
    val samples = untracedWarm.flatMap(_.qs.map(_.total)).sorted
    val (tailPct, tailS) = Stats.tail(samples)
    val base = Seq(
      "seed" -> seed,
      "queries" -> queries,
      "passes" -> passes.size,
      "failed_queries" -> failed.toSeq,
      "conf_drift" -> drift.toSeq.map { case (k, q) => s"$k@$q" },
      "cold_pass_s" -> passes.head.wall,
      "warm_pass_s" -> Stats.median(untracedWarm.map(_.wall)),
      "query_p50_s" -> Stats.hdQuantile(samples, 0.5),
      "query_tail_s" -> tailS,
      "query_tail_pct" -> tailPct,
      "query_tail_n" -> samples.size,
      "heap_after_gc_mb" -> heapMb,
      "warm_passes" -> untracedWarm.map(_.wall),
    )
    // Traced and untraced measured passes alternate in balanced pairs, so
    // the overhead compares all of them; warm-up drift cancels.
    if (!traced) base
    else base ++ tracer.report(passes.head, warm.filter(_.traced), warm.filterNot(_.traced),
      passes.last, drift.size, spansPath)
  }

  private def pass(index: Int, tracedPass: Boolean): Pass = {
    if (tracedPass) tracer.on() else tracer.off()
    val gc0 = gcMs()
    val order = rng.shuffle(queries)
    val qs = order.map { name =>
      val q = if (tracedPass) tracedQuery(index, name) else plainQuery(name)
      System.err.println(f"[perfbench] pass $index%d ${q.name}%s ${q.total}%.3f s")
      recordDrift(name)
      q
    }
    if (tracedPass) tracer.passDone(index)
    val storage = sc.getRDDStorageInfo
    Pass(index, tracedPass, qs, (gcMs() - gc0) / 1e3,
      storage.map(s => s.memSize + s.diskSize).sum / 1048576.0, sc.getPersistentRDDs.size)
  }

  private def plainQuery(name: String): Q = {
    val t0 = System.nanoTime()
    try {
      catalog(name)(spark, dir).write.format("noop").mode("overwrite").save()
    } catch { case e: Exception => fail(name, e) }
    val s = (System.nanoTime() - t0) / 1e9
    Q(name, s, 0, 0, 0, Map.empty)
  }

  private def tracedQuery(pass: Int, name: String): Q = {
    val id = s"$pass:$name"
    sc.setLocalProperty(Tracer.QueryKey, id)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t1, t2 = t0
    var phases = Map.empty[String, Double]
    try {
      sc.setLocalProperty(Tracer.LayerKey, "construct")
      val df = catalog(name)(spark, dir)
      t1 = System.nanoTime()
      sc.setLocalProperty(Tracer.LayerKey, "plan")
      df.queryExecution.executedPlan
      t2 = System.nanoTime()
      // A memoized DataFrame keeps the tracker of the query that built it:
      // count only the phases that ran during this call.
      phases = df.queryExecution.tracker.phases.collect {
        case (k, v) if v.startTimeMs >= startMs => k -> v.durationMs / 1e3
      }
      sc.setLocalProperty(Tracer.LayerKey, "execute")
      df.write.format("noop").mode("overwrite").save()
    } catch { case e: Exception =>
      fail(name, e)
      if (t1 == t0) t1 = System.nanoTime()
      if (t2 == t0) t2 = t1
    }
    val t3 = System.nanoTime()
    sc.setLocalProperty(Tracer.QueryKey, null)
    sc.setLocalProperty(Tracer.LayerKey, null)
    tracer.span(id, t0, t1, t2, t3)
    Q(name, (t3 - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, phases)
  }

  private def fail(name: String, e: Exception): Unit = {
    if (failed.add(name)) System.err.println(s"[perfbench] $name failed: ${e.getMessage}")
  }

  private def recordDrift(name: String): Unit = {
    val now = spark.conf.getAll
    (now.keySet ++ confAtSetup.keySet).foreach { k =>
      if (now.get(k) != confAtSetup.get(k) && !drift.contains(k)) drift(k) = name
    }
  }

  /** Heap in use after full GCs, once Spark's ContextCleaner has had
    * time to drop what the collected references held. */
  private def heapAfterGcMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime max 0L).sum
}

object Stats {
  def median(xs: Iterable[Double]): Double = quantile(xs.toSeq.sorted, 0.5)

  /** Linear-interpolated quantile of sorted values. */
  def quantile(sorted: Seq[Double], p: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else {
      val x = p * (sorted.size - 1)
      val lo = x.floor.toInt
      val hi = (lo + 1) min (sorted.size - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (x - lo)
    }

  /** Harrell-Davis quantile of sorted values: a beta-weighted mean of all
    * order statistics. A pass holds only a few distinct queries, so their
    * times leave gaps between clusters of samples; this estimate moves
    * smoothly across a gap where a single order statistic jumps. */
  def hdQuantile(sorted: Seq[Double], p: Double): Double = {
    val n = sorted.size
    val (a, b) = (p * (n + 1), (1 - p) * (n + 1))
    def cdf(x: Double) = if (x <= 0) 0.0 else if (x >= 1) 1.0 else Beta.regularizedBeta(x, a, b)
    sorted.indices.map(i => (cdf((i + 1.0) / n) - cdf(i.toDouble / n)) * sorted(i)).sum
  }

  /** The highest percentile that still has at least ten samples beyond
    * it, and its Harrell-Davis estimate; none below the median. */
  def tail(sorted: Seq[Double]): (Double, Double) =
    if (sorted.size < 20) (Double.NaN, Double.NaN)
    else {
      val p = (sorted.size - 10.0) / sorted.size
      (100 * p, hdQuantile(sorted, p))
    }
}

/** Minimal JSON writer for the result file. */
object Json {
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")

  def value(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case m: collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
