package graftbench

import com.fasterxml.jackson.databind.node.ObjectNode

import Bench.{median, p95}

/** Per-layer figures of a traced run, over its timed rounds.
  *
  * Self time partitions each round's wall time by layer, highest first:
  * Spark job-active time (`exec`), then Catalyst phases not overlapping a
  * job (`catalyst`), then control-plane store calls outside both (`meta`),
  * then the rest of the benchmark operations' spans (`vt`: engine code on the
  * driver), and what is left is driver gap between operations. */
object Layers {

  /** Op name -> metric name, for the per-call medians. */
  private val opMetrics = Seq(
    "vt.resolve" -> "vt.resolve_ms", "vt.branch" -> "vt.branch_ms",
    "vt.merge" -> "vt.merge_ms", "vt.diff" -> "vt.diff_ms", "vt.vacuum" -> "vt.vacuum_ms",
    "vt.write" -> "vt.write_ms", "vt.history" -> "vt.history_ms",
    "vt.upsert" -> "vt.upsert_s", "vt.merge_into" -> "vt.merge_into_s",
    "vt.delete" -> "vt.delete_s", "vt.delete_dv" -> "vt.delete_dv_s", "vt.update" -> "vt.update_s",
    "vt.read_version" -> "vt.read_version_ms", "vt.read_where" -> "vt.read_where_ms",
    "vt.read_mor" -> "vt.read_mor_ms", "vt.count_rows" -> "vt.count_rows_ms",
    "ops.q_vdt1" -> "ops.q_vdt1_s", "ops.q_vdt2" -> "ops.q_vdt2_s",
    "ops.q_vdt3" -> "ops.q_vdt3_s", "ops.q_vdt4" -> "ops.q_vdt4_s")

  /** Ops whose slot claim is not a commit publish. */
  private val notPublish = Set("vt.merge", "vt.vacuum", "vt.branch")

  def summarise(b: Bench, rounds: Seq[RoundRec]): ObjectNode = {
    val t = b.tracer
    val timed = rounds.filter(_.kind == "timed")
    val out = b.mapper.createObjectNode()
    val metrics = out.putObject("metrics")
    val detail = out.putObject("detail")
    def inTimed(ns: Long): Boolean = timed.exists(r => ns >= r.iv.start && ns <= r.iv.end)
    def scaleOf(name: String): Double = if (name.endsWith("_s")) 1e9 else 1e6

    def put(name: String, samples: Seq[Double]): Unit = {
      metrics.put(name, median(samples))
      val d = detail.putObject(name)
      d.put("n", samples.size)
      d.put("median", median(samples))
      // a tail needs at least ten samples beyond it
      if (samples.size >= 40) d.put("p95", p95(samples))
    }

    val ops = t.ops.filter(o => inTimed(o.iv.start)).toVector
    opMetrics.foreach { case (op, name) =>
      put(name, ops.filter(_.name == op).map(_.iv.len / scaleOf(name)))
    }
    // publish only: from the version-slot claim to the end of the op
    val claims = t.meta.filter(_.slotClaim).groupBy(_.op).map { case (k, v) => k -> v.map(_.iv.start).min }
    put("vt.commit_ms", ops.filter(o => !notPublish(o.name) && claims.contains(o.id))
      .map(o => (o.iv.end - claims(o.id)) / 1e6))

    val nOps = timed.map(_.ops).sum.max(1).toDouble
    def storeSum(k: Int): Double = timed.map(_.store(k)).sum.toDouble
    metrics.put("vt.meta_reads_per_op", storeSum(0) / nOps)
    metrics.put("vt.meta_writes_per_op", storeSum(1) / nOps)
    metrics.put("vt.meta_lists_per_op", storeSum(2) / nOps)
    metrics.put("vt.meta_bytes_per_commit", if (storeSum(4) > 0) storeSum(3) / storeSum(4) else 0.0)

    val reads = b.reads.filter(r => inTimed(r._1)).toVector
    val mean = (xs: Seq[Double]) => if (xs.isEmpty) 0.0 else xs.sum / xs.size
    metrics.put("sources.files_read_per_read",
      mean(reads.map(r => Bench.scanFiles(r._2.queryExecution.executedPlan).toDouble)))
    metrics.put("sources.files_in_snapshot_per_read", mean(reads.map(_._3.toDouble)))

    val phaseIvs = t.phases.toVector
    Seq("analysis", "optimization", "planning").foreach { ph =>
      put(s"catalyst.${ph}_ms", phaseIvs.filter(p => p._1 == ph && inTimed(p._2.end)).map(_._2.len / 1e6))
    }

    // per-round figures
    val perRound = timed.map { r =>
      val (lo, hi) = (r.iv.start, r.iv.end)
      def within(ns: Long) = ns >= lo && ns <= hi
      val stages = t.stages.filter(s => within(s.doneNs))
      val jobU = Iv.union(Iv.clip(t.jobs.map(_.iv), lo, hi))
      val catU = Iv.minus(Iv.union(Iv.clip(phaseIvs.map(_._2), lo, hi)), jobU)
      val metaU = Iv.minus(Iv.union(Iv.clip(t.meta.map(_.iv), lo, hi)), Iv.union(jobU ++ catU))
      val opU = Iv.minus(Iv.union(Iv.clip(t.ops.map(_.iv), lo, hi)), Iv.union(jobU ++ catU ++ metaU))
      val self = Seq(jobU, catU, metaU, opU).map(u => Iv.total(u) / 1e9)
      Map(
        "catalyst.actions_per_round" -> t.actions.count(within).toDouble,
        "exec.jobs_per_round" -> t.jobs.count(j => within(j.iv.end)).toDouble,
        "exec.stages_per_round" -> stages.size.toDouble,
        "exec.tasks_per_round" -> stages.map(_.tasks).sum.toDouble,
        "exec.busy_s_per_round" -> self(0),
        "exec.task_cpu_s_per_round" -> stages.map(_.cpuNs).sum / 1e9,
        "exec.shuffle_bytes_per_round" -> stages.map(_.shuffleBytes).sum.toDouble,
        "exec.output_bytes_per_round" -> stages.map(_.outputBytes).sum.toDouble,
        "exec.spill_bytes_per_round" -> stages.map(_.spillBytes).sum.toDouble,
        "sources.scan_bytes_per_round" -> stages.map(_.inputBytes).sum.toDouble,
        "self.catalyst_s_per_round" -> self(1),
        "self.meta_s_per_round" -> self(2),
        "self.vt_s_per_round" -> self(3),
        "driver.gap_s_per_round" -> (r.iv.len / 1e9 - self.sum),
        "jvm.gc_s_per_round" -> r.gcMs / 1e3,
        "trace.round_s" -> r.iv.len / 1e9,
        "trace.cpu_s_per_round" -> r.cpuNs / 1e9,
        "trace.covered_share" -> self.sum / (r.iv.len / 1e9))
    }
    perRound.headOption.foreach(_.keys.foreach(k => put(k, perRound.map(_(k)))))
    put("trace.cold_round_s", Seq(rounds.head.iv.len / 1e9))
    writeSpans(out.putArray("spans"), t, rounds)
    out
  }

  /** Every recorded span as (name, start, end, parent, op), times in ms from
    * the cold round's start. Rounds are the roots, ops hang under the round
    * they ran in, and jobs and store calls under the op that caused them. */
  private def writeSpans(arr: com.fasterxml.jackson.databind.node.ArrayNode, t: Tracer,
                         rounds: Seq[RoundRec]): Unit = {
    val t0 = rounds.head.iv.start
    def span(name: String, iv: Iv, parent: String, op: Long): Unit = {
      val n = arr.addObject()
      n.put("name", name); n.put("start_ms", (iv.start - t0) / 1e6); n.put("end_ms", (iv.end - t0) / 1e6)
      n.put("parent", parent); n.put("op", op)
    }
    def roundOf(ns: Long): String =
      rounds.find(r => ns >= r.iv.start && ns <= r.iv.end).map(r => s"round:${r.index}").getOrElse("")
    rounds.foreach(r => span(s"round:${r.index}", r.iv, "", 0L))
    t.ops.foreach(o => span(o.name, o.iv, roundOf(o.iv.start), o.id))
    t.jobs.foreach(j => span("spark.job", j.iv, s"op:${j.op}", j.op))
    t.meta.foreach(m => span(if (m.slotClaim) "meta.slot_claim" else "meta.call", m.iv, s"op:${m.op}", m.op))
    t.phases.foreach { case (ph, iv) => span(s"catalyst.$ph", iv, roundOf(iv.start), 0L) }
  }
}
