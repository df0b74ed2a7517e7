package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Closed-loop benchmark client: one thread runs a workload's queries
  * through the engine's query contract (`graft.SparkEntry.queries`) on
  * `local[cores]`, timing the query-function call ("build") and the full
  * materialisation of its result with `collect()` ("action").
  *
  * Phases: session set-up, timed from JVM start → one untimed warm-up
  * pass → timed passes
  * (each a fresh seed-derived permutation): one whole pass, then queries
  * keep starting until `seconds` have passed. With `--trace 1`: three
  * whole passes, the middle one with the listeners in [[Layers]] attached.
  *
  * Every distinct result is kept for the oracle check: the first result of
  * each query is written to `<out>/results/<query>/v0`, and any later
  * execution whose rows differ is written as a further variant. Only row
  * hashes stay in memory once a result is written. `<out>/run.json`
  * carries timings and aggregates, `<out>/spans.jsonl` the raw spans.
  *
  * Usage: Main --data DIR --out DIR --workload NAME --queries q1,q2,...
  *             --seed N --seconds S --trace 0|1 --cores N
  *        Main --keys OUT_FILE   (writes the query keys and the oracle SQL map)
  */
object Main {
  final case class Exec(query: String, pass: Int, buildS: Double, actionS: Double,
                        rows: Long, variant: Int, error: String)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (args.contains("keys")) { writeKeys(args("keys")); return }
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val data = args("data")
    val out = new File(args("out"))
    val queries = args("queries").split(",").toSeq
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args.getOrElse("trace", "0") == "1"
    val cores = args("cores").toInt
    out.mkdirs()

    val missing = queries.filterNot(q =>
      graft.SparkEntry.queries.contains(q) && graft.SparkEntry.oracleSql.contains(q))
    if (missing.nonEmpty) {
      System.err.println(s"[perfbench] not in SparkEntry.queries/oracleSql: ${missing.mkString(",")}")
      sys.exit(3)
    }

    // Session set-up, from JVM start to the first finished job.
    val spark = session(out, cores)
    spark.range(1).collect()
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val spans = new Spans(spark)
    val layers = new Layers(spark, spans)
    val fns = graft.SparkEntry.queries
    val rnd = new scala.util.Random(seed)

    // result hashes per query in first-seen order (the variant index), and
    // the variants not yet written out
    val variants = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Int]]()
    val unwritten = mutable.ArrayBuffer[(String, Int, Array[Row], StructType)]()
    val resultFiles = mutable.LinkedHashMap[String, mutable.ArrayBuffer[String]]()
    def writeResults(): Unit = {
      unwritten.foreach { case (q, i, rows, schema) =>
        val dir = new File(out, s"results/$q/v$i").getPath
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.mode("overwrite").parquet(dir)
        resultFiles.getOrElseUpdate(q, mutable.ArrayBuffer()) += dir
      }
      unwritten.clear()
    }
    val execs = mutable.ArrayBuffer[Exec]()
    val querySpans = mutable.Map[Long, Long]()

    def runQuery(q: String, pass: Int): Unit = {
      var buildS = 0.0; var actionS = 0.0
      var rows = 0L; var variant = -1; var error: String = null
      spans("query", Map("query" -> q, "pass" -> pass.toString)) {
        val qid = spans.current
        try {
          var df: DataFrame = null
          var t0 = System.nanoTime()
          spans("build", Map("query" -> q)) {
            querySpans(spans.current) = qid
            df = fns(q)(spark, data)
          }
          buildS = (System.nanoTime() - t0) / 1e9
          t0 = System.nanoTime()
          val result = spans("action", Map("query" -> q)) {
            querySpans(spans.current) = qid
            df.collect()
          }
          actionS = (System.nanoTime() - t0) / 1e9
          rows = result.length
          val h = MurmurHash3.orderedHash(result.toSeq)
          val vs = variants.getOrElseUpdate(q, mutable.ArrayBuffer())
          variant = vs.indexOf(h)
          if (variant < 0) {
            vs += h; variant = vs.size - 1
            unwritten += ((q, variant, result, df.schema))
          }
        } catch {
          case e: Throwable =>
            error = (e.getClass.getName + ": " + String.valueOf(e.getMessage)).take(500)
            System.err.println(s"[perfbench] $q failed: $error")
        }
      }
      execs += Exec(q, pass, buildS, actionS, rows, variant, error)
    }

    // Untimed warm-up: first executions pay class loading, codegen and
    // footer reads; they belong to set-up, not to the timed passes.
    val w0 = System.nanoTime()
    rnd.shuffle(queries).foreach(runQuery(_, 0))
    val warmupS = (System.nanoTime() - w0) / 1e9
    // The heap the session retains once every query has run: a fixed
    // amount of work, so it does not grow with the number of timed passes.
    // The warm-up's results and spans are dropped first, so the figure is
    // the engine's, not the harness's. Full collections with pauses between
    // them let Spark's asynchronous ContextCleaner drop the broadcasts and
    // shuffles they released. Every timed loop also starts from this state.
    writeResults()
    spans.closed.synchronized(spans.closed.clear())
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(200) }
    val retainedHeap = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed

    // Timed closed loop. Pass 1 runs every query once, so each has a
    // sample; later passes (fresh permutations) keep the client busy until
    // the window closes, and a query starts only while it is open. A
    // traced run instead runs three whole passes, the middle one with the
    // listeners attached: the first warms further, the last is the
    // untraced reference for the tracing overhead.
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val loop0 = System.nanoTime()
    def open = (System.nanoTime() - loop0) / 1e9 < seconds
    var pass = 0
    spans("workload", Map("workload" -> args("workload"))) {
      while (pass < 1 || (traced && pass < 3) || (!traced && open)) {
        pass += 1
        val tracePass = traced && pass == 2
        if (tracePass) layers.attach()
        val order = rnd.shuffle(queries)
        val p0 = spans.nowMs
        val t0 = System.nanoTime()
        spans("pass", Map("pass" -> pass.toString, "traced" -> tracePass.toString)) {
          order.foreach(q => if (pass == 1 || traced || open) runQuery(q, pass))
        }
        val wallS = (System.nanoTime() - t0) / 1e9
        val p1 = spans.nowMs
        var agg: Map[String, Double] = Map.empty
        if (tracePass) {
          layers.drain()
          layers.detach()
          agg = layers.snapshot(querySpans.toMap)
        }
        passes += Map("pass" -> pass, "traced" -> tracePass, "wall_s" -> wallS,
          "start_ms" -> p0, "end_ms" -> p1, "layers" -> agg)
      }
    }

    // Micro-batch spans, unparented: the report nests them.
    layers.microbatches.foreach { case (s, e, batch) =>
      spans.add("microbatch", -1L, s, e, Map("batch" -> batch))
    }

    // Peak RSS before the untimed result dump.
    val hwmKb = readStatus("VmHWM")

    // Write the results first seen in the timed passes (untimed).
    writeResults()
    val oracle = queries.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap

    val report = Map(
      "run_id" -> runId,
      "workload" -> args("workload"),
      "seed" -> seed,
      "cores" -> cores,
      "host" -> Map(
        "available_processors" -> Runtime.getRuntime.availableProcessors,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "java_vm" -> System.getProperty("java.vm.name")),
      "setup" -> Map("session_s" -> sessionS, "warmup_s" -> warmupS),
      "vmhwm_kb" -> hwmKb,
      "retained_heap_bytes" -> retainedHeap,
      "passes" -> passes.toSeq,
      "trigger_ms" -> layers.triggerMs.toSeq,
      "executions" -> execs.map(e => Map("query" -> e.query, "pass" -> e.pass,
        "build_s" -> e.buildS, "action_s" -> e.actionS, "rows" -> e.rows,
        "variant" -> e.variant, "error" -> e.error)).toSeq,
      "results" -> resultFiles.map { case (q, d) => q -> d.toSeq },
      "oracle_sql" -> oracle)
    write(new File(out, "run.json"), json.writeValueAsString(report))
    if (traced) {
      val spansOut = spans.closed.map(s => json.writeValueAsString(Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "start" -> s.start, "end" -> s.end, "run" -> runId,
        "attrs" -> s.attrs)))
      write(new File(out, "spans.jsonl"), spansOut.mkString("", "\n", "\n"))
    }
    spark.stop()
  }

  private def session(out: File, cores: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(out, "local").getAbsolutePath)
      .config("spark.sql.streaming.checkpointLocation", new File(out, "ck").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(out, "warehouse").getAbsolutePath)
      .getOrCreate()

  private def readStatus(key: String): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)

  private def writeKeys(path: String): Unit =
    write(new File(path), json.writeValueAsString(Map(
      "queries" -> graft.SparkEntry.queries.keys.toSeq.sorted,
      "oracle_sql" -> graft.SparkEntry.oracleSql)))

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def write(f: File, s: String): Unit =
    Files.write(f.toPath, s.getBytes(StandardCharsets.UTF_8)): Unit
}
