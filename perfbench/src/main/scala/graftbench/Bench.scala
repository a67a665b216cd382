package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** One round's record. `bytesAdded` counts every lake file that is new or
  * changed after the round (metadata objects included). */
final case class RoundRec(index: Int, kind: String, iv: Iv, cpuNs: Long, gcMs: Long,
                          bytesAdded: Long, store: Array[Long], ops: Int)

/** The closed-loop client: issues one operation at a time, counts attempts
  * and failures, and in the traced run records a span per operation. */
final class Bench(val spark: SparkSession, val cfg: JsonNode, val tracer: Tracer) {
  val mapper = new ObjectMapper()
  val obs: ObjectNode = mapper.createObjectNode()
  val seed: Long = cfg.get("seed").asLong
  val work: Path = Paths.get(cfg.get("work").asText)
  val inputs: Path = Paths.get(cfg.get("inputs").asText)
  def param(name: String): JsonNode = cfg.get("params").get(name)

  var attempted = 0L
  var failed = 0L
  val errors = ArrayBuffer.empty[String]
  /** Stores whose calls are counted; a workload registers the one it uses. */
  var store: Option[CountingStore] = None
  /** Lake files (absolute paths) present when the current round started. */
  var filesAtRoundStart: Set[String] = Set.empty
  /** (time, aggregated frame, files in the snapshot it reads) per read op;
    * traced runs only. */
  val reads = ArrayBuffer.empty[(Long, DataFrame, Int)]

  def op[T](name: String)(f: => T): Option[T] = {
    attempted += 1
    val id = if (tracer.on) {
      val id = tracer.begin()
      spark.sparkContext.setLocalProperty(Bench.OpProperty, id.toString)
      id
    } else 0L
    val t0 = System.nanoTime()
    try Some(f)
    catch {
      case NonFatal(e) =>
        failed += 1
        if (errors.size < 20) errors += s"$name: ${e.toString.take(400)}"
        None
    } finally if (tracer.on) {
      tracer.end(id, name, Iv(t0, System.nanoTime()))
      spark.sparkContext.setLocalProperty(Bench.OpProperty, null)
    }
  }

  /** Run an aggregate read and return its single row. In the traced run the
    * executed plan is kept so its scan metrics can be read after the round. */
  def aggRead(df: DataFrame, snapshotFiles: Int, exprs: String*): Row = {
    val q = df.selectExpr(exprs: _*)
    val row = q.collect().head
    if (tracer.on) reads += ((System.nanoTime(), q, snapshotFiles))
    row
  }
}

object Bench {
  val OpProperty = "graftbench.op"

  private val osBean =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = osBean.getProcessCpuTime
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** path -> (size, mtime) of every regular file under `root`. */
  def listing(root: Path): Map[String, (Long, Long)] =
    if (!Files.exists(root)) Map.empty
    else {
      val st = Files.walk(root)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).flatMap { p =>
        try Some(p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis))
        catch { case _: java.nio.file.NoSuchFileException => None }
      }.toMap
      finally st.close()
    }

  def added(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): Long =
    after.iterator.collect { case (p, (s, m)) if !before.get(p).contains((s, m)) => s }.sum

  /** Files the executed plan's parquet scans actually opened. */
  def scanFiles(plan: SparkPlan): Long = plan match {
    case a: AdaptiveSparkPlanExec => scanFiles(a.executedPlan)
    case s: QueryStageExec => scanFiles(s.plan)
    case f: FileSourceScanExec => f.metrics.get("numFiles").map(_.value).getOrElse(0L)
    case p => p.children.map(scanFiles).sum + p.subqueries.map(scanFiles).sum
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def p95(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sorted.apply(math.min(xs.size - 1, math.ceil(0.95 * xs.size).toInt - 1))

  def main(args: Array[String]): Unit = {
    val mapper = new ObjectMapper()
    val cfg = mapper.readTree(Files.readAllBytes(Paths.get(args(0))))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = cfg.get("cores").asInt
    val work = Paths.get(cfg.get("work").asText)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("tmp").resolve("spark").toString)
      .config("spark.ui.enabled", "false")
      // keep the status store small, so live heap does not grow with the
      // number of rounds a run times
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "50")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = new Tracer(cfg.get("trace").asBoolean)
    if (tracer.on) {
      spark.sparkContext.addSparkListener(new JobListener(tracer))
      spark.listenerManager.register(new PlanListener(tracer))
    }
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val b = new Bench(spark, cfg, tracer)
    val wl = Workload(cfg.get("workload").asText, b)

    // Set-up runs several times on fresh roots; the median is reported and
    // the last staged lake is the one the rounds use.
    val setups = cfg.get("setups").asInt
    val stageS = (1 to setups).map { k =>
      val root = work.resolve(s"lake$k")
      val t0 = System.nanoTime()
      wl.stage(root)
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[setup] $k%d $s%.3f s")
      s
    }
    (1 until setups).foreach(k => graft.Tables.deleteRecursively(work.resolve(s"lake$k")))
    val lake = work.resolve(s"lake$setups")
    // Registered queries keep their own versioned tables under
    // <tmpdir>/graft_scratch (q_vdt4's vdt4_vt): they count as lake bytes.
    val scratch = Paths.get(sys.props("java.io.tmpdir"), "graft_scratch")
    def lakeListing() = listing(lake) ++ listing(scratch)

    val rounds = ArrayBuffer.empty[RoundRec]
    var snap = lakeListing()
    def runRound(i: Int, kind: String): Unit = {
      val opsBefore = b.attempted
      val store0 = b.store.map(_.snapshot).getOrElse(Array.fill(5)(0L))
      b.filesAtRoundStart = snap.keySet
      val cpu0 = cpuNs(); val gc0 = gcMs(); val t0 = System.nanoTime()
      wl.round(i)
      val t1 = System.nanoTime(); val cpu1 = cpuNs(); val gc1 = gcMs()
      val store1 = b.store.map(_.snapshot).getOrElse(Array.fill(5)(0L))
      if (tracer.on) org.apache.spark.BenchBus.drain(spark.sparkContext)
      val after = lakeListing()
      rounds += RoundRec(i, kind, Iv(t0, t1), cpu1 - cpu0, gc1 - gc0, added(snap, after),
        store1.zip(store0).map { case (x, y) => x - y }, (b.attempted - opsBefore).toInt)
      snap = after
      println(f"[round] $i%d $kind%s ${(t1 - t0) / 1e9}%.3f s")
    }

    val warmup = cfg.get("warmup").asInt
    runRound(0, "cold")
    (1 to warmup).foreach(runRound(_, "warmup"))
    (1 to cfg.get("timed_rounds").asInt).foreach(k => runRound(warmup + k, "timed"))

    // Outputs for the independent checks: read outside the timed rounds.
    val out = work.resolve("out")
    Files.createDirectories(out)
    b.obs.put("ops_per_round", rounds.head.ops)
    b.op("check.read_back")(wl.finish(out))
    val layers = if (tracer.on) Layers.summarise(b, rounds.toSeq) else null

    val lakeBytes = lakeListing().valuesIterator.map(_._1).sum
    // Spark's ContextCleaner frees broadcast and shuffle state only after a GC
    // has queued their references, on its own thread: collect, give it time,
    // and collect again, keeping the smallest reading.
    val heapMb = (1 to 4).map { _ =>
      System.gc()
      Thread.sleep(250)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min

    val res = mapper.createObjectNode()
    res.put("session_s", sessionS)
    val st = res.putArray("stage_s"); stageS.foreach(st.add)
    res.put("setup_s", sessionS + median(stageS))
    val rs = res.putArray("rounds")
    rounds.foreach { r =>
      val n = rs.addObject()
      n.put("index", r.index); n.put("kind", r.kind); n.put("wall_s", r.iv.len / 1e9)
      n.put("cpu_s", r.cpuNs / 1e9); n.put("gc_s", r.gcMs / 1e3); n.put("bytes_added", r.bytesAdded)
      n.put("ops", r.ops)
    }
    res.put("lake_bytes_end", lakeBytes)
    res.put("live_heap_mb", heapMb)
    res.put("attempted", b.attempted)
    res.put("failed", b.failed)
    val errs = res.putArray("errors"); b.errors.foreach(errs.add)
    if (layers != null) res.set[JsonNode]("layers", layers)
    res.set[JsonNode]("observations", b.obs)
    mapper.writerWithDefaultPrettyPrinter().writeValue(out.resolve("result.json").toFile, res)
    spark.stop()
  }
}
