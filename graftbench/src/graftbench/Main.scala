package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}

/** One workload in one fresh JVM: set up Spark, run a cold pass, warm-up
  * passes and timed passes, each over its own fresh copy of the staged
  * inputs, check every pass's outputs against the first pass, and write
  * everything measured to a JSON file for `run.py`.
  *
  * Arguments are `--key value` pairs: workload, input (staged inputs),
  * work (working dir), result (JSON path), t0-ms (process launch time),
  * warmup-passes, timed-passes, master, partitions and trace (0|1).
  */
object Main {
  private final case class Pass(i: Int, phase: String, traced: Boolean,
                                wallS: Double, cpuS: Double, jitS: Double, gcS: Double,
                                codegen: Long, engine: Counters, gapS: Double,
                                spans: Seq[(Span, Counters)], tasks: Map[String, (Long, Long)],
                                peakHeapMb: Double, retainedHeapMb: Double,
                                liveRdds: Int, liveMb: Double,
                                outMb: Double, outFiles: Long, inMb: Double)

  def main(argv: Array[String]): Unit = {
    val arg = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = arg("workload")
    val work = Paths.get(arg("work"))
    val staged = Paths.get(arg("input"))
    val master = arg("master")
    val trace = arg("trace") == "1"
    val (cpu0, self0) = (Box.cpuJiffies, Box.selfJiffies)
    val load0 = Box.loadavg1

    val spark = graft.GraftSession.builder(s"graftbench-$name", master, arg("partitions").toInt)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val engine = new EngineListener
    sc.addSparkListener(engine)
    FlowAttempts.install()
    Jvm.watchGcs()
    val workload = Workloads(name)
    val tracer = new Tracer(sc, s"$name-${arg("t0-ms")}")
    val setupS = (System.currentTimeMillis() - arg("t0-ms").toLong) / 1e3

    val failures = mutable.ArrayBuffer.empty[String]
    var firstOutputs: Map[String, Array[Row]] = Map.empty
    var firstSums: Map[String, (Long, Long)] = Map.empty

    def runPass(i: Int, phase: String, traced: Boolean): Pass = {
      val dir = work.resolve(f"pass_$i%03d")
      val in = dir.resolve("in")
      val out = dir.resolve("out")
      val inMb = copyInputs(staged, in) / 1048576.0
      tracer.enabled = traced
      org.apache.spark.graftbench.Bus.drain(sc)
      engine.reset()
      FlowAttempts.drain()
      val (c0, j0, g0, cg0) = (Jvm.processCpuNs, Jvm.jitMs, Jvm.gcMs, Jvm.codegenCompiles)
      val spansBefore = tracer.spans.size
      val up0 = Jvm.uptimeMs
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val outputs =
        try tracer.span("pass")(workload.pass(spark, in.toString, out.toString, tracer))
        catch {
          case NonFatal(e) =>
            failures += s"pass $i: $e"
            Seq.empty
        }
      val wallS = (System.nanoTime() - t0) / 1e9
      val ms1 = System.currentTimeMillis()
      val (c1, j1, g1, cg1) = (Jvm.processCpuNs, Jvm.jitMs, Jvm.gcMs, Jvm.codegenCompiles)
      org.apache.spark.graftbench.Bus.drain(sc)
      val (counters, bySpan) = engine.reset()
      val tasks = FlowAttempts.drain()

      // checks, outside the timed region
      outputs.foreach { o =>
        try {
          val rows = o.rows()
          val sum = checksum(rows)
          if (i == 1) {
            firstOutputs += o.op -> rows
            firstSums += o.op -> sum
          } else if (!firstSums.get(o.op).contains(sum))
            failures += s"pass $i: ${o.op} differs from pass 1 (rows ${sum._1})"
        } catch { case NonFatal(e) => failures += s"pass $i: ${o.op} unreadable: $e" }
      }
      val (outBytes, outFiles) = dirSize(out)
      val spans = tracer.spans.drop(spansBefore).toSeq
        .map(s => s -> bySpan.getOrElse(s.id, new Counters))
      val storage = sc.getRDDStorageInfo
      // the collections after the pass are counted too: they start the
      // next pass from the retained set and give a reading when the pass
      // itself collected nothing
      val retainedMb = Jvm.heapAfterGcMb
      val p = Pass(i, phase, traced, wallS, (c1 - c0) / 1e9, (j1 - j0) / 1e3, (g1 - g0) / 1e3,
        cg1 - cg0, counters, counters.driverGapS(ms0, ms1), spans, tasks,
        math.max(retainedMb, Jvm.peakAfterGcMb(up0)), retainedMb, storage.length,
        storage.map(s => s.memSize + s.diskSize).sum / 1048576.0,
        outBytes / 1048576.0, outFiles, inMb)
      deleteTree(work.resolve(f"pass_${i - 1}%03d"))
      p
    }

    val passes = mutable.ArrayBuffer(runPass(1, "cold", trace))
    val probeBefore = graft.BenchSentinel.probeOnce(spark)
    while (passes.size <= arg("warmup-passes").toInt)
      passes += runPass(passes.size + 1, "warmup", trace)
    // trace runs time traced and untraced passes in the order ABBA, so
    // that passes getting faster through the run do not show as overhead
    for (n <- 0 until arg("timed-passes").toInt)
      passes += runPass(passes.size + 1, "timed", trace && (n % 4 == 0 || n % 4 == 3))
    val probeAfter = graft.BenchSentinel.probeOnce(spark)
    val recall =
      if (name != "corpus_graph") -1.0
      else try CorpusGraph.recall(spark, staged.toString, firstOutputs("knn"))
      catch { case NonFatal(e) => failures += s"recall: $e"; -1.0 }
    deleteTree(work.resolve(f"pass_${passes.size}%03d"))

    val (cpu1, self1) = (Box.cpuJiffies, Box.selfJiffies)
    val dTotal = (cpu1._1 - cpu0._1).toDouble
    val env = Seq(
      "steal_share" -> Json.num(if (dTotal > 0) (cpu1._3 - cpu0._3) / dTotal else -1),
      "other_cpu_share" -> Json.num(
        if (dTotal > 0) ((cpu1._2 - cpu0._2) - (self1 - self0)) / dTotal else -1),
      "loadavg_start" -> Json.num(load0),
      "loadavg_end" -> Json.num(Box.loadavg1),
      "nproc" -> Json.num(Runtime.getRuntime.availableProcessors()),
      "heap_max_mb" -> Json.num(Jvm.heapMaxMb),
      "master" -> Json.str(master),
      "shuffle_partitions" -> Json.str(spark.conf.get("spark.sql.shuffle.partitions")),
      "probe_before_s" -> Json.num(probeBefore),
      "probe_after_s" -> Json.num(probeAfter))

    val traceFile = work.resolve("spans.jsonl")
    if (trace) Files.write(traceFile, passes.flatMap(_.spans).map { case (s, c) =>
      Json.obj(Seq("run" -> Json.str(s.runId), "id" -> Json.str(s.id),
        "name" -> Json.str(s.name), "parent" -> Json.str(s.parent),
        "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs)) ++
        counterFields(c, s.startMs, s.endMs))
    }.asJava)

    val result = Json.obj(Seq(
      "workload" -> Json.str(name),
      "setup_s" -> Json.num(setupS),
      "ops" -> Json.num(tracer.calls),
      "failures" -> Json.arr(failures.toSeq.map(Json.str)),
      "recall" -> Json.num(recall),
      "env" -> Json.obj(env),
      "passes" -> Json.arr(passes.toSeq.map(passJson)),
      "oracle" -> Json.obj(workload.oracleSql.toSeq.collect {
        case (op, sql) if firstOutputs.contains(op) =>
          op -> Json.obj(Seq("sql" -> Json.str(sql), "rows" ->
            Json.arr(firstOutputs(op).toSeq.map(r => Json.arr(r.toSeq.map(Json.value))))))
      })))
    Files.write(Paths.get(arg("result")), result.getBytes("UTF-8"))
    spark.stop()
  }

  private def passJson(p: Pass): String = {
    val spans = p.spans.map { case (s, c) =>
      Json.obj(Seq("name" -> Json.str(s.name), "parent" -> Json.str(s.parent),
        "id" -> Json.str(s.id), "s" -> Json.num((s.endMs - s.startMs) / 1e3)) ++
        counterFields(c, s.startMs, s.endMs))
    }
    Json.obj(Seq(
      "i" -> Json.num(p.i), "phase" -> Json.str(p.phase), "traced" -> Json.bool(p.traced),
      "wall_s" -> Json.num(p.wallS), "cpu_s" -> Json.num(p.cpuS),
      "jit_s" -> Json.num(p.jitS), "gc_s" -> Json.num(p.gcS),
      "codegen_compiles" -> Json.num(p.codegen), "driver_gap_s" -> Json.num(p.gapS),
      "peak_heap_mb" -> Json.num(p.peakHeapMb),
      "retained_heap_mb" -> Json.num(p.retainedHeapMb), "live_rdds" -> Json.num(p.liveRdds),
      "live_mb" -> Json.num(p.liveMb), "output_mb" -> Json.num(p.outMb),
      "output_files" -> Json.num(p.outFiles), "input_mb" -> Json.num(p.inMb),
      "flow_tasks" -> Json.obj(p.tasks.toSeq.sortBy(_._1).map { case (t, (calls, attempts)) =>
        t -> Json.obj(Seq("calls" -> Json.num(calls), "attempts" -> Json.num(attempts)))
      }),
      "spans" -> Json.arr(spans)) ++ counterFields(p.engine, 0, 0).filterNot(_._1 == "driver_gap_s"))
  }

  private def counterFields(c: Counters, startMs: Long, endMs: Long): Seq[(String, String)] = Seq(
    "jobs" -> Json.num(c.jobs), "stages" -> Json.num(c.stages), "tasks" -> Json.num(c.tasks),
    "task_failures" -> Json.num(c.taskFailures), "task_cpu_s" -> Json.num(c.taskCpuNs / 1e9),
    "sched_delay_s" -> Json.num(c.schedDelayMs / 1e3),
    "shuffle_write_mb" -> Json.num(c.shuffleWrite / 1048576.0),
    "shuffle_read_mb" -> Json.num(c.shuffleRead / 1048576.0),
    "spill_mb" -> Json.num(c.spill / 1048576.0),
    "scan_mb" -> Json.num(c.inputBytes / 1048576.0), "scan_rows" -> Json.num(c.inputRecords),
    "driver_gap_s" -> Json.num(c.driverGapS(startMs, endMs)))

  /** (row count, order-independent 64-bit hash sum) of a result. */
  private def checksum(rows: Array[Row]): (Long, Long) = {
    import scala.util.hashing.MurmurHash3.stringHash
    rows.foldLeft((0L, 0L)) { case ((n, h), r) =>
      val s = r.toSeq.map(v => if (v == null) "∅" else v.toString).mkString("\u0001")
      (n + 1, h + ((stringHash(s, 17).toLong << 32) | (stringHash(s, 31) & 0xffffffffL)))
    }
  }

  /** Copies the staged input files into `to`; returns the bytes copied. */
  private def copyInputs(from: Path, to: Path): Long = {
    Files.createDirectories(to)
    Files.list(from).iterator().asScala.filter(Files.isRegularFile(_)).map { f =>
      Files.copy(f, to.resolve(f.getFileName)).toFile.length()
    }.sum
  }

  /** (bytes, files) of the data files under `dir`, skipping markers and checksums. */
  private def dirSize(dir: Path): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val files = Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot { f => val n = f.getFileName.toString; n.startsWith(".") || n.startsWith("_") }
        .toSeq
      (files.map(Files.size).sum, files.size.toLong)
    }

  private def deleteTree(dir: Path): Unit =
    if (Files.exists(dir))
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
}

/** Just enough JSON writing for the result file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    (b += '"').toString
  }
  def num(x: Double): String = if (x.isNaN || x.isInfinite) "null" else x.toString
  def num(x: Long): String = x.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  /** A result cell: numbers stay numbers, everything else is its string form. */
  def value(v: Any): String = v match {
    case null => "null"
    case x: Double => num(x)
    case x: Float => num(x.toDouble)
    case x @ (_: Int | _: Long | _: Short | _: Byte) => x.toString
    case x: java.math.BigDecimal => x.toPlainString
    case x: Boolean => bool(x)
    case x => str(x.toString)
  }
}
