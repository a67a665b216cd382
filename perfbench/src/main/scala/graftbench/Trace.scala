package graftbench

import java.nio.file.Path
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.vt.MetaStore

/** Closed interval on the benchmark's nanosecond timeline. */
final case class Iv(start: Long, end: Long) {
  def len: Long = math.max(0L, end - start)
}

object Iv {
  /** Sorted, non-overlapping cover of `ivs`. */
  def union(ivs: Iterable[Iv]): Vector[Iv] = {
    val out = Vector.newBuilder[Iv]
    var cur: Iv = null
    ivs.filter(_.len > 0).toVector.sortBy(_.start).foreach { iv =>
      if (cur == null) cur = iv
      else if (iv.start <= cur.end) cur = Iv(cur.start, math.max(cur.end, iv.end))
      else { out += cur; cur = iv }
    }
    if (cur != null) out += cur
    out.result()
  }

  def total(u: Vector[Iv]): Long = u.iterator.map(_.len).sum

  /** Part of union `a` not covered by union `b`. */
  def minus(a: Vector[Iv], b: Vector[Iv]): Vector[Iv] = a.flatMap { iv =>
    var pieces = Vector(iv)
    b.iterator.filter(x => x.end > iv.start && x.start < iv.end).foreach { x =>
      pieces = pieces.flatMap { p =>
        Vector(Iv(p.start, math.min(p.end, x.start)), Iv(math.max(p.start, x.end), p.end))
          .filter(_.len > 0)
      }
    }
    pieces
  }

  def clip(ivs: Iterable[Iv], lo: Long, hi: Long): Vector[Iv] =
    ivs.iterator.map(i => Iv(math.max(i.start, lo), math.min(i.end, hi))).filter(_.len > 0).toVector
}

/** One benchmark operation: a call into a public `Repo`/`VersionedTable`
  * function or a registered job, made by the closed-loop client. */
final case class OpSpan(id: Long, name: String, iv: Iv)
final case class JobRec(op: Long, iv: Iv)
final case class StageRec(op: Long, doneNs: Long, tasks: Int, cpuNs: Long,
                          shuffleBytes: Long, outputBytes: Long, spillBytes: Long, inputBytes: Long)
final case class MetaCall(op: Long, iv: Iv, slotClaim: Boolean)

/** Span recorder of the traced run. Everything is kept in memory and
  * summarised or written out after the timed rounds; with `on = false`
  * nothing is recorded and no listener is registered. */
final class Tracer(val on: Boolean) {
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  def msToNs(ms: Long): Long = anchorNs + (ms - anchorMs) * 1000000L

  private val ids = new AtomicLong(0)
  @volatile var currentOp: Long = 0L

  val ops = ArrayBuffer.empty[OpSpan]
  val jobs = ArrayBuffer.empty[JobRec]
  val stages = ArrayBuffer.empty[StageRec]
  val phases = ArrayBuffer.empty[(String, Iv)]
  val actions = ArrayBuffer.empty[Long]
  val meta = ArrayBuffer.empty[MetaCall]

  def begin(): Long = { val id = ids.incrementAndGet(); currentOp = id; id }
  def end(id: Long, name: String, iv: Iv): Unit = {
    currentOp = 0L
    ops.synchronized(ops += OpSpan(id, name, iv))
  }
  def addJob(j: JobRec): Unit = jobs.synchronized(jobs += j)
  def addStage(s: StageRec): Unit = stages.synchronized(stages += s)
  def addPhase(name: String, iv: Iv): Unit = phases.synchronized(phases += name -> iv)
  def addAction(atNs: Long): Unit = actions.synchronized(actions += atNs)
  def addMeta(m: MetaCall): Unit = meta.synchronized(meta += m)
}

/** Spark job/stage boundaries, attributed to the op whose span id the driver
  * put in the `graftbench.op` local property. */
final class JobListener(t: Tracer) extends SparkListener {
  private val open = scala.collection.concurrent.TrieMap.empty[Int, (Long, Long)]
  private val stageOp = scala.collection.concurrent.TrieMap.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Bench.OpProperty)))
      .map(_.toLong).getOrElse(0L)
    open.put(e.jobId, (e.time, op))
    e.stageIds.foreach(stageOp.put(_, op))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    open.remove(e.jobId).foreach { case (startMs, op) =>
      t.addJob(JobRec(op, Iv(t.msToNs(startMs), t.msToNs(e.time))))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    Option(si.taskMetrics).foreach { m =>
      t.addStage(StageRec(stageOp.getOrElse(si.stageId, 0L),
        t.msToNs(si.completionTime.getOrElse(System.currentTimeMillis())), si.numTasks,
        m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
        m.outputMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead))
    }
  }
}

/** Catalyst phase times (analysis, optimization, planning) of every action. */
final class PlanListener(t: Tracer) extends QueryExecutionListener {
  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    ph.foreach { case (name, s) => t.addPhase(name, Iv(t.msToNs(s.startTimeMs), t.msToNs(s.endTimeMs))) }
    if (ph.nonEmpty) t.addAction(t.msToNs(ph.values.map(_.endTimeMs).max))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

/** [[MetaStore]] wrapper that counts control-plane calls (always) and, in the
  * traced run, records each call as an interval tagged with the current op.
  * HEAD and last-modified probes count as reads; deletes count as writes. */
final class CountingStore(inner: MetaStore, t: Tracer) extends MetaStore {
  val reads = new AtomicLong
  val writes = new AtomicLong
  val lists = new AtomicLong
  val bytesPut = new AtomicLong
  val slotClaims = new AtomicLong

  private def isSlot(key: Path): Boolean =
    key.getParent != null && key.getParent.getFileName != null &&
      key.getParent.getFileName.toString == "locks"

  private def call[T](slot: Boolean = false)(f: => T): T =
    if (!t.on) f
    else {
      val s = System.nanoTime()
      try f finally t.addMeta(MetaCall(t.currentOp, Iv(s, System.nanoTime()), slot))
    }

  def putIfAbsent(key: Path, content: String): Boolean = {
    writes.incrementAndGet(); bytesPut.addAndGet(content.length.toLong)
    val slot = isSlot(key)
    if (slot) slotClaims.incrementAndGet()
    call(slot)(inner.putIfAbsent(key, content))
  }
  def put(key: Path, content: String): Unit = {
    writes.incrementAndGet(); bytesPut.addAndGet(content.length.toLong)
    call()(inner.put(key, content))
  }
  def read(key: Path): String = { reads.incrementAndGet(); call()(inner.read(key)) }
  def exists(key: Path): Boolean = { reads.incrementAndGet(); call()(inner.exists(key)) }
  def delete(key: Path): Boolean = { writes.incrementAndGet(); call()(inner.delete(key)) }
  def list(dir: Path): Vector[Path] = { lists.incrementAndGet(); call()(inner.list(dir)) }
  def lastModified(key: Path): Long = { reads.incrementAndGet(); call()(inner.lastModified(key)) }
  def ensurePrefix(dir: Path): Unit = inner.ensurePrefix(dir)

  def snapshot: Array[Long] =
    Array(reads.get, writes.get, lists.get, bytesPut.get, slotClaims.get)
}
