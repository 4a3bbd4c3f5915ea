package perfbench

import scala.collection.mutable

/** Per-layer metrics of a traced run. Every name is printed for every
  * workload; a layer the workload does not exercise reads 0 (no op of that
  * kind ran, so no work was done there). */
object Layers {

  val Ops: Seq[String] = Seq("pip", "pip_region", "pip_world", "geofence", "rollup",
    "knn_prepare", "knn_local", "knn_global",
    "ingest", "base_rollup", "append", "incr_rollup", "scan_pruned", "scan_full")

  /** Spill is left out: it read 0 on every op at these input sizes. */
  private val StageMetrics = Seq("task_cpu_s" -> "s", "task_run_s" -> "s", "gc_s" -> "s",
    "shuffle_write_bytes" -> "bytes", "shuffle_read_bytes" -> "bytes", "task_skew" -> "ratio")

  /** Ops without stage metrics of their own, to stay within 128 names:
    * `pip_world` fails every round, and `base_rollup` runs the same
    * pyramid as `incr_rollup` over as many rows. */
  private val NoStageMetrics = Set("pip_world", "base_rollup")

  val Names: Seq[(String, String)] =
    Ops.map(o => s"$o.p50_s" -> "s") ++
      Ops.filterNot(NoStageMetrics).flatMap(o => StageMetrics.map { case (m, u) => s"$o.$m" -> u }) ++
      Seq("synth.points_s" -> "s", "spark.index_s" -> "s",
        "h3.latlng_to_cell_ns" -> "ns", "h3.cell_to_parent_ns" -> "ns", "h3.pip_test_ns" -> "ns",
        "h3.grid_disk_ns" -> "ns", "h3.cover_ms" -> "ms", "h3.cover_cells" -> "count",
        "h3.cover_boundary_cells" -> "count") ++
      Seq("pip", "pip_region", "geofence").flatMap(o => Seq(
        s"spatialjoin.$o.probe_rows" -> "count", s"spatialjoin.$o.candidate_rows" -> "count",
        s"spatialjoin.$o.raycast_rows" -> "count", s"spatialjoin.$o.joined_rows" -> "count",
        s"spatialjoin.$o.broadcast_bytes" -> "bytes")) ++
      Seq("tilerollup.base_groups" -> "count", "tilerollup.shuffle_bytes" -> "bytes") ++
      Seq("local", "global").flatMap(k => Seq(
        s"knn.$k.jobs_per_batch" -> "count", s"knn.$k.files_read_per_batch" -> "count",
        s"knn.$k.rows_scanned_per_batch" -> "count")) ++
      Seq("icelite.jobs_per_write" -> "count", "icelite.job_s_per_write" -> "s",
        "icelite.driver_s_per_write" -> "s", "icelite.files_written" -> "count",
        "icelite.bytes_written" -> "bytes", "icelite.files_read.full" -> "count",
        "icelite.files_read.pruned" -> "count", "icelite.files_read.incremental" -> "count")

  private def med(xs: Iterable[Double]): Double = Main.median(xs.toSeq)

  /** Wall time covered by the union of the intervals. */
  def covered(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var (cs, ce) = (Double.NaN, Double.NaN)
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (cs.isNaN || a > ce) { if (!cs.isNaN) total += ce - cs; cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    if (!cs.isNaN) total += ce - cs
    total
  }

  def all(wl: Workload, ctx: Ctx, tr: Tracer): Map[String, Double] = {
    val out = mutable.Map.empty[String, Double]
    val spans = tr.spans.toSeq
    val kids = spans.groupBy(_.parent)
    def below(s: Span): Seq[Span] = kids.getOrElse(s.id, Nil).flatMap(k => k +: below(k))
    def opSpans(op: String) = spans.filter(s => s.kind == "op" && s.name == op)

    // Wall time of every untraced call, failed or not: a wrong answer took
    // as long as a right one.
    val recs = ctx.records.filter(!_.traced)
    Ops.foreach { o =>
      val xs = recs.filter(_.op == o).map(_.seconds)
      if (xs.nonEmpty) out(s"$o.p50_s") = med(xs)
    }

    // Spark stage metrics, summed per op call, median over the op's calls.
    Ops.foreach { o =>
      val per = opSpans(o).map { s =>
        val stages = below(s).filter(_.kind == "stage")
        def sum(k: String) = stages.map(_.counters.getOrElse(k, 0.0)).sum
        val heaviest = stages.sortBy(-_.counters.getOrElse("task_run_s", 0.0)).headOption
        Map("task_cpu_s" -> sum("task_cpu_s"), "task_run_s" -> sum("task_run_s"),
          "gc_s" -> sum("gc_s"), "shuffle_write_bytes" -> sum("shuffle_write_bytes"),
          "shuffle_read_bytes" -> sum("shuffle_read_bytes"),
          "task_skew" -> heaviest.map(_.counters.getOrElse("task_skew", 1.0)).getOrElse(0.0))
      }
      if (per.nonEmpty && !NoStageMetrics(o)) StageMetrics.foreach { case (m, _) => out(s"$o.$m") = med(per.map(_(m))) }
      // The op's time ledger: Spark jobs, and the driver-side rest.
      opSpans(o).foreach { s =>
        val jobs = below(s).filter(_.kind == "job")
        val jobS = covered(jobs.map(j => (j.start, j.end))) / 1e3
        s.counters ++= Seq("jobs" -> jobs.length.toDouble, "job_s" -> jobS,
          "driver_s" -> (s.dur / 1e3 - jobS))
      }
    }

    def plansOf(s: Span): Seq[PlanStats] = (s +: below(s)).flatMap(x => tr.plans.getOrElse(x.id, Nil))

    // Spatial join: the probe side enters the innermost broadcast join; the
    // rows that pass the exact test leave the outermost one (or the filter
    // above it, where the optimizer kept the test out of the join).
    Seq("pip", "pip_region", "geofence").foreach { o =>
      val per = opSpans(o).map { s =>
        val ps = plansOf(s).filter(_.joins.nonEmpty)
        val joined = ps.map(p => if (p.joinFilterRows > 0) p.joinFilterRows else p.joins.head._2).sum
        (ps.map(_.joins.last._1).sum.toDouble, joined.toDouble, ps.map(_.broadcastBytes).sum.toDouble)
      }
      if (per.nonEmpty) {
        out(s"spatialjoin.$o.probe_rows") = med(per.map(_._1))
        out(s"spatialjoin.$o.joined_rows") = med(per.map(_._2))
        out(s"spatialjoin.$o.broadcast_bytes") = med(per.map(_._3))
      }
    }

    // Tile roll-up: the res-9 base aggregate has the most groups.
    val rollups = opSpans("rollup") ++ opSpans("base_rollup") ++ opSpans("incr_rollup")
    if (rollups.nonEmpty) {
      out("tilerollup.base_groups") = med(rollups.map(s =>
        plansOf(s).flatMap(_.finalAggRows).maxOption.getOrElse(0L).toDouble))
      out("tilerollup.shuffle_bytes") = med(rollups.map(s => plansOf(s).map(_.shuffleBytes).sum.toDouble))
    }

    Seq("local", "global").foreach { k =>
      val per = opSpans(s"knn_$k").map { s =>
        val ps = plansOf(s)
        (below(s).count(_.kind == "job").toDouble, ps.map(_.scanFiles).sum.toDouble,
          ps.map(_.scanRows).sum.toDouble)
      }
      if (per.nonEmpty) {
        out(s"knn.$k.jobs_per_batch") = med(per.map(_._1))
        out(s"knn.$k.files_read_per_batch") = med(per.map(_._2))
        out(s"knn.$k.rows_scanned_per_batch") = med(per.map(_._3))
      }
    }

    // Icelite writes: jobs inside the call, the time they cover, the rest
    // (promote and manifest commits), and what the call wrote.
    val writes = spans.filter(s => s.kind == "call" && Set("Icelite.writeResumable",
      "Icelite.appendResumable", "Knn.prepareCorpus")(s.name))
    if (writes.nonEmpty) {
      val per = writes.map { w =>
        val jobs = below(w).filter(_.kind == "job")
        val jobS = covered(jobs.map(j => (j.start, j.end))) / 1e3
        val bytes = below(w).filter(_.kind == "stage").map(_.counters.getOrElse("bytes_written", 0.0)).sum
        (jobs.length.toDouble, jobS, w.dur / 1e3 - jobS, bytes)
      }
      out("icelite.jobs_per_write") = med(per.map(_._1))
      out("icelite.job_s_per_write") = med(per.map(_._2))
      out("icelite.driver_s_per_write") = med(per.map(_._3))
      out("icelite.bytes_written") = med(per.map(_._4))
      val files = writes.flatMap(_.counters.get("files_written"))
      if (files.nonEmpty) out("icelite.files_written") = med(files)
    }
    Seq("full" -> "scan_full", "pruned" -> "scan_pruned", "incremental" -> "incr_rollup").foreach {
      case (k, o) =>
        val per = opSpans(o).map(s => plansOf(s).map(_.scanFiles).sum.toDouble)
        if (per.nonEmpty) out(s"icelite.files_read.$k") = med(per)
    }

    out ++= wl.layers(ctx, tr)
    out.toMap
  }
}
