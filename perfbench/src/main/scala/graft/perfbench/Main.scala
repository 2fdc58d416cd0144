package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.{BenchKit, Caches, Tables}

/** The benchmark's entry point. One run executes one workload as a closed
  * loop of one client: set-up, then whole passes of ops until `--seconds`
  * have been measured (at least one, the cold pass). Every op drains
  * its whole output to the noop sink or writes its files; the per-op reset
  * (cache release, `clearCache`, GC) and the output checks run outside
  * the clock.
  *
  * Usage: graft.perfbench.Main --workload W --seed N --seconds S
  *   --trace 0|1 --work DIR --out DIR
  *
  * The last stdout line is the JSON result; the line before it is a
  * compact summary. With `--trace 1` some warm passes run traced (a job
  * group per layer call, a listener collecting task metrics) and the
  * result carries the per-layer metrics instead of the end-to-end ones.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, out: Path)

  val Layers: Seq[String] = Seq("sources", "etl", "io", "query", "operators")
  val TimedOps: Seq[String] = Seq("q7_direct", "q7_mat", "q4_direct", "sim_knn_graph_refined",
    "sim_cluster_exemplars", "dedup_clusters_star", "dedup_minhash_lsh", "etl.build",
    "io.json_write", "io.json_read", "io.parquet_write")
  val JobOps: Seq[String] = Seq("q7_direct", "sim_knn_graph_refined", "sim_cluster_exemplars")

  final case class OpSample(pass: Int, traced: Boolean, name: String, secs: Double,
      failures: Seq[String], blockMb: Double, storedMb: Double, retainedMb: Double,
      outstanding: Int, fileBytes: Long, digests: Map[String, (Long, String)])

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")), Paths.get(need("out")))
  }

  def main(argv: Array[String]): Unit = {
    val code = try run(parse(argv)) catch {
      case t: Throwable => t.printStackTrace(); 1
    }
    sys.exit(code)
  }

  private def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def loadavg(): Seq[Double] =
    try Files.readString(Paths.get("/proc/loadavg")).split("\\s+").take(3).toSeq.map(_.toDouble)
    catch { case _: Throwable => Seq.empty }

  /** Block-manager storage memory in use (cached, checkpointed and
    * broadcast blocks) plus cached RDD blocks on disk, in MB. An op's
    * figure is the growth over its run, sampled before the release: what
    * it holds at its end, apart from blocks an earlier op left for the
    * asynchronous cleaner. */
  private def blockManagerMb(spark: SparkSession): Double = {
    val sc = spark.sparkContext
    val mem = sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
    (mem + sc.getRDDStorageInfo.map(_.diskSize).sum) / 1e6
  }

  /** Memory plus disk held by cached and checkpointed RDDs, in MB. */
  private def storedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  def run(a: Args): Int = {
    require(Workloads.Names.contains(a.workload), s"unknown workload '${a.workload}'")
    val root = Paths.get("").toAbsolutePath
    Files.createDirectories(a.work)
    Files.createDirectories(a.out)
    val runId = s"${a.workload}-s${a.seed}-t${if (a.trace) 1 else 0}-${System.currentTimeMillis()}"
    val loadStart = loadavg()

    val t0 = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = Tables.session("perfbench", cpus = cores.toString)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = secsSince(t0)
    val t1 = System.nanoTime()
    spark.range(1000000).selectExpr("sum(id)").collect()
    val warmS = secsSince(t1)
    BenchKit.calibSec(spark) // untimed: JIT for the kernel itself, as Bench does
    val calibStart = BenchKit.calibSec(spark)

    val wl = Workloads(a.workload, spark, root, a.seed)
    try {
      val t2 = System.nanoTime()
      val inputBytes = wl.inputs(a.work)
      val inputsS = secsSince(t2)
      val setups = (1 to wl.setupReps).map { rep =>
        val s = System.nanoTime()
        val bytes = wl.setup(rep)
        (secsSince(s), bytes)
      }
      val setupS = sessionS + warmS + Stats.median(setups.map(_._1))
      val setupBytes = setups.last._2

      val bytesL = new BytesListener
      spark.sparkContext.addSparkListener(bytesL)
      val tracer = if (a.trace) Some(new Tracer(runId)) else None
      val rnd = new Random(a.seed)
      val samples = mutable.ArrayBuffer.empty[OpSample]
      val passBytes = mutable.ArrayBuffer.empty[Long]
      var tracedPasses = 0
      val window = System.nanoTime()
      var pass = 0
      // a plain run measures whole passes until `--seconds` have passed;
      // a traced run alternates untraced and traced passes from the cold
      // one, at least cold, traced, untraced, traced, so the traced passes
      // sit on both sides of the untraced warm one as the JIT warms up
      def done = secsSince(window) >= a.seconds && pass >= (if (a.trace) 4 else 1)
      while (!done) {
        val traced = a.trace && pass % 2 == 1
        val tr = if (traced) tracer else None
        tr.foreach(t => spark.sparkContext.addSparkListener(t.listener))
        val passId = tr.map(_.newId()).getOrElse(0L)
        val passStart = tr.map(_.now()).getOrElse(0.0)
        val bytes0 = { org.apache.spark.ListenerBusDrain(spark.sparkContext); bytesL.written.get }
        val digests = mutable.LinkedHashMap.empty[String, Map[String, (Long, String)]]
        wl.order(rnd).foreach { op =>
          Caches.release()
          spark.catalog.clearCache()
          System.gc()
          val retained = storedMb(spark)
          val before = blockManagerMb(spark)
          val opId = tr.map(_.newId()).getOrElse(0L)
          val ctx = new Ctx(spark, tr, opId)
          val opStart = tr.map(_.now()).getOrElse(0.0)
          val s = System.nanoTime()
          val err = try { op.body(ctx); None } catch {
            case t: Throwable => Some(s"${op.name}: ${t.getClass.getSimpleName}: " +
              String.valueOf(t.getMessage).take(300))
          }
          val secs = secsSince(s)
          val opEnd = tr.map(_.now()).getOrElse(0.0)
          val block = blockManagerMb(spark) - before
          val stored = storedMb(spark)
          val outstanding = Caches.outstanding
          val failures = err match {
            case Some(e) => Seq(e)
            case None =>
              try {
                digests(op.name) = ctx.digests()
                wl.check(op.name, digests.toMap)
              } catch {
                case t: Throwable => Seq(s"${op.name}: output check failed: $t")
              }
          }
          val fileBytes = if (err.isEmpty) wl.fileBytes(op.name) else 0L
          op.after()
          failures.foreach(f => System.err.println(s"[perfbench] FAILED $f"))
          tr.foreach(_.spans += Span(opId, passId, "op", op.name, "", opStart, opEnd,
            Map("failed" -> (if (failures.nonEmpty) 1.0 else 0.0), "file_bytes" -> fileBytes.toDouble)))
          samples += OpSample(pass, traced, op.name, secs, failures, block, stored, retained,
            outstanding, fileBytes, digests.getOrElse(op.name, Map.empty))
        }
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
        passBytes += bytesL.written.get - bytes0 +
          samples.filter(_.pass == pass).map(_.fileBytes).sum
        tr.foreach { t =>
          t.spans += Span(passId, 0L, "pass", s"pass$pass", "", passStart, t.now())
          tracedPasses += 1
          spark.sparkContext.removeSparkListener(t.listener)
          t.listener.drainJobs().foreach { j =>
            t.spans += Span(t.newId(), groupParent(j, t.spans.toSeq), "job", s"job${j.id}", "",
              j.start.toDouble, math.max(j.end, j.start).toDouble, Map(
                "ok" -> (if (j.ok) 1.0 else 0.0), "stages" -> j.stages.size.toDouble,
                "tasks" -> j.tasks.toDouble, "task_run_ms" -> j.runMs.toDouble,
                "task_cpu_ns" -> j.cpuNs.toDouble, "gc_ms" -> j.gcMs.toDouble,
                "shuffle_read_bytes" -> j.shuffleRead.toDouble,
                "shuffle_write_bytes" -> j.shuffleWrite.toDouble,
                "spill_bytes" -> j.spill.toDouble, "input_bytes" -> j.input.toDouble,
                "output_bytes" -> j.output.toDouble))
          }
        }
        pass += 1
      }
      val calibEnd = BenchKit.calibSec(spark)
      val loadEnd = loadavg()

      val passTimes = samples.groupBy(_.pass).map { case (p, ss) => p -> ss.map(_.secs).sum }
      def passesOf(ss: Iterable[OpSample]) = ss.map(_.pass).toSeq.distinct
      val untraced = samples.filterNot(_.traced).toSeq
      val traced = samples.filter(_.traced).toSeq
      val passS = Stats.median(passesOf(untraced).map(passTimes))
      val (tailP, tailS) = Stats.tail(untraced.map(_.secs))
      val failedOps = samples.count(_.failures.nonEmpty)
      val e2e = Seq(
        "setup_s" -> (setupS, "s"),
        "pass_s" -> (passS, "s"),
        "write_amp" -> ((setupBytes + Stats.median(passesOf(untraced).map(p => passBytes(p).toDouble))) /
          inputBytes, "ratio"))

      // per-layer figures come from the traced passes only
      val layer: Seq[(String, (Double, String))] = tracer.toSeq.flatMap { t =>
        perLayer(t, tracedPasses, cores) ++ Seq(
          "session.start_s" -> (sessionS, "s"),
          "caches.outstanding_peak" -> (samples.map(_.outstanding).max.toDouble, "count"),
          "caches.stored_peak_mb" -> (samples.map(_.storedMb).max, "MB"),
          "caches.block_peak_mb" -> (samples.map(_.blockMb).max, "MB"),
          "caches.retained_after_release_mb" -> (samples.map(_.retainedMb).max, "MB")) ++
          TimedOps.map { n =>
            val xs = traced.filter(_.name == n).map(_.secs)
            s"op.$n.s" -> (if (xs.isEmpty) 0.0 else Stats.median(xs), "s")
          } ++
          JobOps.map(n => s"op.$n.jobs" -> (opJobs(t, n), "count")) :+
          ("trace.overhead_frac" -> (Stats.median(passesOf(traced).map(passTimes)) /
            Stats.median(passesOf(untraced).filter(_ > 0).map(passTimes)) - 1, "ratio"))
      }

      // artifacts: the run record, and the spans of a traced run
      val record = new StringBuilder
      record ++= s"""{"run_id":"$runId","workload":"${a.workload}","seed":${a.seed},""" +
        s""""trace":${a.trace},"cores":$cores,"passes":$pass,""" +
        s""""sentinel":{"start":{"loadavg":[${loadStart.mkString(",")}],"calib_sec":$calibStart},""" +
        s""""end":{"loadavg":[${loadEnd.mkString(",")}],"calib_sec":$calibEnd}},""" +
        s""""session_s":$sessionS,"warmup_s":$warmS,"inputs_s":$inputsS,""" +
        s""""run_s":${secsSince(t0)},"input_bytes":$inputBytes,"setup_reps_s":[${setups.map(_._1).mkString(",")}],""" +
        s""""pass_s":{${passTimes.toSeq.sortBy(_._1).map { case (p, v) => s""""$p":$v""" }.mkString(",")}},""" +
        s""""ops":[${samples.map(s => s"""{"pass":${s.pass},"traced":${s.traced},"name":"${s.name}",""" +
          s""""secs":${s.secs},"digests":{${s.digests.toSeq.sorted.map { case (k, (n, h)) =>
            s""""$k":[$n,"$h"]""" }.mkString(",")}},""" +
          s""""failures":[${s.failures.map(f => "\"" + BenchKit.jstr(f) + "\"").mkString(",")}]}""").mkString(",")}]}"""
      Files.writeString(a.out.resolve(s"$runId.json"), record.toString + "\n")
      tracer.foreach(t => writeSpans(t, a.out.resolve(s"$runId.spans.jsonl"), a.workload))

      val metrics = if (a.trace) layer else e2e
      println(s"[perfbench] ${a.workload} seed=${a.seed} trace=${if (a.trace) 1 else 0} " +
        s"passes=$pass ops=${samples.size} failed=$failedOps " +
        e2e.map { case (k, (v, u)) => f"$k=$v%.4f$u" }.mkString(" ") +
        f" op_p50_s=${Stats.median(untraced.map(_.secs))}%.4fs op_tail_s=$tailS%.4fs(p$tailP,n=${untraced.size})" +
        f" block_peak_mb=${samples.map(_.blockMb).max}%.2f calib=${"%.3f".format(calibStart)}/" +
        s"${"%.3f".format(calibEnd)}s load=${loadStart.headOption.getOrElse(0.0)}/" +
        s"${loadEnd.headOption.getOrElse(0.0)}")
      println(s"""{"correct": ${failedOps == 0}, "attempted": ${samples.size}, "failed": $failedOps, """ +
        s""""metrics": {${metrics.map { case (k, (v, u)) =>
          s""""$k": {"value": ${if (v.isNaN || v.isInfinite) 0.0 else v}, "unit": "$u"}""" }
          .mkString(", ")}}}""")
      0
    } finally {
      try wl.cleanup() catch { case _: Throwable => () }
      spark.stop()
    }
  }

  /** The call span a job belongs to: its job group, or else the call
    * running when it started. */
  private def groupParent(j: JobRec, spans: Seq[Span]): Long = {
    val byGroup = Option(j.group).filter(_.startsWith("pb-")).map(_.drop(3).toLong)
    byGroup.getOrElse(spans.find(s => s.kind == "call" && s.start <= j.start && j.start < s.end)
      .map(_.id).getOrElse(0L))
  }

  /** Jobs per call of op `op` in the traced passes. */
  private def opJobs(t: Tracer, op: String): Double = {
    val opIds = t.spans.filter(s => s.kind == "op" && s.name == op).map(_.id).toSet
    val calls = t.spans.filter(s => s.kind == "call" && opIds(s.parent)).map(_.id).toSet
    if (opIds.isEmpty) 0.0 else t.spans.count(s => s.kind == "job" && calls(s.parent)).toDouble / opIds.size
  }

  /** Per-layer figures, per traced pass. */
  def perLayer(t: Tracer, tracedPasses: Int, cores: Int): Seq[(String, (Double, String))] = {
    val n = math.max(1, tracedPasses).toDouble
    val calls = t.spans.filter(_.kind == "call").toSeq
    val jobsOf = t.spans.filter(_.kind == "job").groupBy(_.parent)
    def jobsUnder(cs: Seq[Span]) = cs.flatMap(c => jobsOf.getOrElse(c.id, Nil))
    def sum(cs: Seq[Span], f: String) = jobsUnder(cs).map(_.fields.getOrElse(f, 0.0)).sum
    def us(x: Double) = (x * 1e3).toLong // epoch ms to microseconds
    // bytes an op wrote outside Spark tasks (the driver-side JSON
    // document), counted as output of the layers it called
    val driverWrites = t.spans.filter(_.kind == "op").map { o =>
      o.id -> math.max(0.0, o.fields.getOrElse("file_bytes", 0.0) -
        sum(calls.filter(_.parent == o.id), "output_bytes"))
    }.toMap
    Layers.flatMap { l =>
      val cs = calls.filter(_.layer == l)
      val busy = cs.map(c => c.end - c.start).sum / 1e3
      val driver = cs.map(c => Stats.selfTime(us(c.start), us(c.end),
        jobsOf.getOrElse(c.id, Nil).map(j => (us(j.start), us(j.end))).toSeq)).sum / 1e6
      val runS = sum(cs, "task_run_ms") / 1e3
      val output = sum(cs, "output_bytes") + cs.map(_.parent).distinct.map(driverWrites.getOrElse(_, 0.0)).sum
      Seq(
        s"$l.calls" -> (cs.size / n, "count"),
        s"$l.busy_s" -> (busy / n, "s"),
        s"$l.driver_s" -> (driver / n, "s"),
        s"$l.jobs" -> (jobsUnder(cs).size / n, "count"),
        s"$l.stages" -> (sum(cs, "stages") / n, "count"),
        s"$l.tasks" -> (sum(cs, "tasks") / n, "count"),
        s"$l.task_run_s" -> (runS / n, "s"),
        s"$l.task_cpu_s" -> (sum(cs, "task_cpu_ns") / 1e9 / n, "s"),
        s"$l.gc_s" -> (sum(cs, "gc_ms") / 1e3 / n, "s"),
        s"$l.shuffle_read_mb" -> (sum(cs, "shuffle_read_bytes") / 1e6 / n, "MB"),
        s"$l.shuffle_write_mb" -> (sum(cs, "shuffle_write_bytes") / 1e6 / n, "MB"),
        s"$l.spill_mb" -> (sum(cs, "spill_bytes") / 1e6 / n, "MB"),
        s"$l.input_mb" -> (sum(cs, "input_bytes") / 1e6 / n, "MB"),
        s"$l.output_mb" -> (output / 1e6 / n, "MB"),
        s"$l.util" -> (if (busy > 0) runS / (busy * cores) else 0.0, "ratio"),
        s"$l.failed" -> (cs.count(_.fields.getOrElse("failed", 0.0) > 0).toDouble, "count"))
    }
  }

  /** Spans as JSONL, each with the run id and its self time. */
  private def writeSpans(t: Tracer, p: Path, workload: String): Unit = {
    val all = t.spans.toSeq
    val root = Span(0L, -1L, "workload", workload, "",
      all.map(_.start).minOption.getOrElse(0.0), all.map(_.end).maxOption.getOrElse(0.0))
    val children = all.groupBy(_.parent)
    val lines = (root +: all).map { s =>
      def us(x: Double) = (x * 1e3).toLong
      val kids = children.getOrElse(s.id, Nil).map(c => (us(c.start), us(c.end)))
      val self = Stats.selfTime(us(s.start), us(s.end), kids) / 1e3
      s"""{"run_id":"${t.runId}","id":${s.id},"parent":${s.parent},"kind":"${s.kind}",""" +
        s""""name":"${BenchKit.jstr(s.name)}","layer":"${s.layer}","start_ms":${s.start},""" +
        s""""end_ms":${s.end},"self_ms":$self${s.fields.map { case (k, v) => s""","$k":$v""" }.mkString}}"""
    }
    Files.writeString(p, lines.mkString("", "\n", "\n"))
  }
}
