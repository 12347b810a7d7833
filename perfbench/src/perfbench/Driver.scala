package perfbench

import java.io.{ByteArrayOutputStream, OutputStream, PrintStream, PrintWriter}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One benchmark run of one workload in this JVM: set up, then timed
  * rounds of the workload's operations, closed loop (each operation starts
  * when the previous one has finished), until `--seconds` have passed. It
  * calls only graft's public entry points (`Sessions`, `SparkEntry`,
  * `Curate`, the `graft.functions` column functions, and the stream batch
  * progress graft publishes through `Instrument`) and writes one JSON
  * result file; perfbench/run.py turns that into metrics and checks the
  * outputs afterwards.
  *
  * Usage: perfbench.Driver <workload> <dataDir> <corpusDir> <workDir>
  *   <seconds> <trace 0|1> <cpus> <resultJson> <operation ...>
  * The workload `curate` runs `graft.Curate` over `corpusDir`, and the
  * operations are the names of its stages in the order it runs them; any
  * other workload runs the named `SparkEntry.queries` gates over
  * `dataDir`. */
object Driver {
  final case class Op(name: String, round: Int, startMs: Long, buildS: Double,
                      actionS: Double, ok: Boolean, err: String,
                      streamRows: Long = 0, streamTriggerMs: Long = 0, rows: Long = -1)

  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  private def nowUs: Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, corpusDir, workDir, secondsArg, traceArg, cpusArg, resultPath) =
      args.take(8)
    val opNames = args.drop(8).toSeq
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val cpus = cpusArg.toInt
    val result = mutable.LinkedHashMap.empty[String, String]
    val ops = mutable.ArrayBuffer.empty[Op]
    val roundWall = mutable.ArrayBuffer.empty[Double]

    // Set-up, then one function that runs a round: (round, parent span).
    var session: Option[SparkSession] = None
    val runRound: (Int, Int) => Seq[Op] = if (workload == "curate") {
      // Curate.main builds its own session and stops it at the end, so the
      // untimed warm-up is one whole chain over a smaller corpus.
      val w0 = System.nanoTime()
      runCurate(opNames, s"$corpusDir/warmup", s"$workDir/curate/warmup", -1, -1)
      System.gc()
      result("warmup_ms") = f"${secs(w0, System.nanoTime()) * 1e3}%.3f"
      result("session_ms") = "0"
      (round, span) => {
        val stages = runCurate(opNames, corpusDir, s"$workDir/curate/r$round", round, span)
        System.gc()
        stages
      }
    } else {
      val s0 = System.nanoTime()
      val spark = graft.Sessions.build(s"local[$cpus]", cpus.toString,
        appName = s"perfbench-$workload")
      spark.sparkContext.setLogLevel("ERROR")
      session = Some(spark)
      val s1 = System.nanoTime()
      // Untimed warm-up: every gate's declared one-time ingest, then one
      // pass over the gates (JIT, codegen cache, parquet footers), so the
      // timed rounds measure the warm engine.
      opNames.foreach(g => graft.SparkEntry.benchSetup.get(g).foreach(_(spark, dataDir)))
      opNames.foreach(g => runGate(spark, g, dataDir, s"$workDir/out/warmup", -1, -1))
      result("session_ms") = f"${secs(s0, s1) * 1e3}%.3f"
      result("warmup_ms") = f"${secs(s1, System.nanoTime()) * 1e3}%.3f"
      (round, span) => opNames.map(g => runGate(spark, g, dataDir, s"$workDir/out/r$round", round, span))
    }
    result("setup_done_us") = nowUs.toString

    // Whole rounds until `seconds` have passed, at least one. A round's
    // wall time is the sum of its operations' times, which leaves out the
    // untimed resets between them.
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var round = 0
    do {
      val span = if (trace) Trace.open(-1, s"round $round") else -1
      val done = runRound(round, span)
      if (trace) Trace.close(span)
      ops ++= done
      roundWall += done.map(o => o.buildS + o.actionS).sum
      round += 1
    } while (System.nanoTime() < deadline)

    session.foreach { spark =>
      if (trace) org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      spark.stop()
    }
    result("rounds") = roundWall.size.toString
    result("round_wall_s") = roundWall.mkString("[", ",", "]")
    result("ops") = ops.map(opJson).mkString("[", ",", "]")
    if (workload != "curate")
      result("oracle") = opNames.distinct.map(g => s"${q(g)}:${q(graft.SparkEntry.oracleSql(g))}")
        .mkString("{", ",", "}")
    if (trace) {
      result("layers") = Layers.summarize(roundWall.size)
      Layers.writeSpans(s"$workDir/spans.jsonl", new java.io.File(workDir).getName)
      if (workload == "curate") result("functions") = kernels(corpusDir, cpus)
    }
    val w = new PrintWriter(resultPath)
    try w.println(result.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
    finally w.close()
  }

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""

  private def opJson(o: Op): String =
    s"""{"name":${q(o.name)},"round":${o.round},"start_ms":${o.startMs},""" +
      s""""build_s":${o.buildS},"action_s":${o.actionS},"ok":${o.ok},"err":${q(o.err)},""" +
      s""""stream_rows":${o.streamRows},"stream_trigger_ms":${o.streamTriggerMs},"rows":${o.rows}}"""

  /** Untimed between operations, as graft.Bench does between attempts:
    * drop cached frames so no operation reuses another's, and pay the
    * garbage-collection debt here instead of inside the next operation. */
  private def settle(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    System.gc()
  }

  /** One gate: build the DataFrame (graft runs eager loop rounds and
    * streaming queries here), then write it to parquet for the checks. */
  private def runGate(spark: SparkSession, name: String, dataDir: String,
                      outDir: String, round: Int, parent: Int): Op = {
    val span = if (parent >= 0) Trace.open(parent, name) else -1
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t1 = t0
    val op = try {
      val df = graft.SparkEntry.queries(name)(spark, dataDir)
      t1 = System.nanoTime()
      df.write.mode("overwrite").parquet(s"$outDir/$name")
      val t2 = System.nanoTime()
      Op(name, round, startMs, secs(t0, t1), secs(t1, t2), ok = true, "")
    } catch {
      case e: Throwable =>
        val t2 = System.nanoTime()
        Op(name, round, startMs, secs(t0, t1), secs(t1, t2), ok = false,
          String.valueOf(e.getMessage).take(300))
    }
    if (span >= 0) Trace.close(span)
    settle(spark)
    val batches = graft.Instrument.drainStreamStats().values.flatten
    op.copy(streamRows = batches.map(_.numInputRows).sum,
      streamTriggerMs = batches.map(_.batchDurationMs).filter(_ > 0).sum)
  }

  /** One unchanged `graft.Curate` chain. Curate prints one JSON line per
    * stage as the stage's output lands; the time between consecutive
    * lines is that stage's wall time (the first stage also covers the
    * session start Curate performs). */
  private def runCurate(stages: Seq[String], corpusDir: String, outDir: String, round: Int,
                        parent: Int): Seq[Op] = {
    val lines = mutable.ArrayBuffer.empty[(Long, Long, String)]
    val buf = new ByteArrayOutputStream()
    val capture = new PrintStream(new OutputStream {
      override def write(b: Int): Unit =
        if (b == '\n') {
          lines += ((System.nanoTime(), System.currentTimeMillis(), buf.toString("UTF-8")))
          buf.reset()
        } else buf.write(b)
    }, true, "UTF-8")
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val err = try {
      Console.withOut(capture)(graft.Curate.main(Array(corpusDir, outDir)))
      ""
    } catch { case e: Throwable => String.valueOf(e.getMessage).take(300) }
    val stageLine = """\{"stage":"([a-z_]+)","rows":(\d+),.*""".r
    var (prevNs, prevMs) = (t0, startMs)
    val done = lines.toSeq.collect { case (ns, ms, stageLine(name, rows)) =>
      val op = Op(name, round, prevMs, secs(prevNs, ns), 0.0, ok = true, "", rows = rows.toLong)
      if (parent >= 0) Trace.add(parent, name, prevMs, ms)
      prevNs = ns
      prevMs = ms
      op
    }
    val missing = stages.drop(done.size).map(n => Op(n, round, prevMs, 0.0, 0.0, ok = false,
      if (err.nonEmpty) err else "stage output missing"))
    done ++ missing
  }

  /** Native-kernel microbench over the corpus text: each public column
    * function runs over a fixed cached batch into a noop sink; the value
    * is the median of five passes in ns per input row. */
  private def kernels(corpusDir: String, cpus: Int): String = {
    import graft.functions.{HashedLinearExpression, MinhashExpression, SetExpressions,
      ShingleHashExpression, SimHashExpression}
    val spark = graft.Sessions.build(s"local[$cpus]", cpus.toString, appName = "perfbench-kernels")
    spark.sparkContext.setLogLevel("ERROR")
    val copies = 2
    val base = spark.read.parquet(s"$corpusDir/documents.parquet")
      .crossJoin(spark.range(copies).toDF("copy"))
      .select((col("doc_id") * copies + col("copy")).as("id"), col("text"),
        graft.pipeline.TextAnalysis.tokens(col("text")).as("toks"))
      .cache()
    val sh = base.select(col("id"),
      ShingleHashExpression.shingle_hash_sorted(col("toks"), 3).as("sh")).cache()
    val th = base.select(transform(array_distinct(col("toks")), t => xxhash64(t)).as("th")).cache()
    val pairs = sh.as("a").join(sh.as("b"), col("a.id") + 1 === col("b.id"))
      .select(col("a.sh").as("x"), col("b.sh").as("y")).cache()
    val rows = Map("base" -> base.count(), "sh" -> sh.count(), "th" -> th.count(),
      "pairs" -> pairs.count())
    def time(input: String, df: org.apache.spark.sql.DataFrame): Double = {
      val ts = (0 until 5).map { _ =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        System.nanoTime() - t0
      }.sorted
      ts(2).toDouble / rows(input)
    }
    val out = Seq(
      "shingle_hash_ns_per_doc" -> time("base",
        base.select(ShingleHashExpression.shingle_hash_sorted(col("toks"), 3))),
      "minhash_ns_per_doc" -> time("sh", sh.select(MinhashExpression.minhash_signature(col("sh"), 32))),
      "sorted_intersect_ns_per_pair" -> time("pairs",
        pairs.select(SetExpressions.sorted_intersect_count(col("x"), col("y")))),
      "hashed_linear_ns_per_doc" -> time("base",
        base.select(HashedLinearExpression.hashed_linear_mills(col("text"), 64))),
      "simhash_ns_per_doc" -> time("th", th.select(SimHashExpression.simhash64_native(col("th")))))
    spark.stop()
    out.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
  }
}
