package graft.perfbench

import graft.{GraftSession, ModelCache, SparkEntry, Verify}
import graft.sources.{CowTable, Tables}
import graft.streaming.EventStream
import org.apache.spark.api.java.function.ForeachPartitionFunction
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types._

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Drives graft from outside, through its public API, for one workload.
  *
  * Load model: one process, one `local[SPARK_GRAFT_CPUS]` session, one
  * client running the operations one after another in a fixed order. The
  * run sets the session up several times (the first timed from JVM start,
  * later ones from the stop of the session before), then runs a cold pass
  * over the operations in the last fresh session, which is also the JVM's
  * first, then warm passes over the same operations in that session. Each
  * operation is built (the query function runs until its DataFrame
  * returns) and then executed to completion through a hashing sink that
  * returns the row count and an order-independent value hash, so outputs
  * are checked without a second execution.
  *
  * Arguments (all required unless noted):
  *   --workload NAME --dir INPUT_DIR --work WORK_DIR --out RESULT_JSON
  *   --ops OP,OP,...     query names from SparkEntry.queries, or the direct
  *                       calls CowTable.{create,merge,changes} and
  *                       EventStream.windowedCounts
  *   --setups N --trace 0|1
  *   --warm-seconds S    warm passes run until S seconds are spent in them
  *                       (at least one); 0 runs the cold pass only
  *   --dump-dir DIR      (optional) dump the operations that have DuckDB
  *                       oracle SQL through graft.Verify after the passes
  */
object Harness {
  /** Local property carrying the id of the span that submits a job. */
  val SpanProperty = "perfbench.span"

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val h = new Harness(a("workload"), a("dir"), a("work"),
      a("ops").split(",").toSeq.filter(_.nonEmpty), a("setups").toInt,
      a("warm-seconds").toDouble, a("trace") == "1")
    val result = h.run()
    Files.write(Paths.get(a("out")), Json.render(result).getBytes(StandardCharsets.UTF_8))
    val t0 = System.nanoTime()
    a.get("dump-dir").foreach(h.dumpOracleOps)
    println(f"perfbench: oracle dump took ${(System.nanoTime() - t0) / 1e9}%.1f s")
    h.stop()
    System.exit(0)
  }
}

final class Harness(workload: String, dir: String, work: String,
    ops: Seq[String], nSetups: Int, warmSeconds: Double, trace: Boolean) {
  import Json.obj

  private val tracer = new Tracer
  private val recorder = new JobRecorder
  private val heap = new HeapWatch
  private var spark: SparkSession = _

  private val moduleOf: Map[String, String] = SparkEntry.modules.flatMap { m =>
    val name = m.getClass.getSimpleName.stripSuffix("$")
    m.queries.keys.map(_ -> name)
  }.toMap
  private val queries = SparkEntry.queries

  // per-pass accumulators for the direct CowTable / EventStream calls
  private var cowMergeS = 0.0
  private val progress = mutable.ArrayBuffer.empty[Array[StreamingQueryProgress]]

  def run(): Json.Obj = {
    val root = tracer.open(workload, "workload", null)
    val setups = (1 to nSetups).map(k => setup(k, root))
    if (trace) spark.sparkContext.addSparkListener(recorder)
    heap.sample()
    val passes = mutable.ArrayBuffer(pass("cold", 0, root))
    heap.sample()
    val cachedAfterCold = settledStorageBytes()
    var warmSpent = 0.0
    while (warmSeconds > 0 && (passes.size == 1 || warmSpent < warmSeconds)) {
      val p = pass("warm", passes.size, root)
      warmSpent += p._2
      passes += p
      heap.sample()
    }
    val checks = directChecks()
    tracer.close(root)
    drainListenerBus()
    obj(
      "workload" -> workload,
      "cores" -> spark.sparkContext.defaultParallelism,
      "setups" -> setups,
      "passes" -> passes.map(_._1).toSeq,
      "cached_bytes_after_cold" -> cachedAfterCold,
      "heap_peak_old_after_gc_bytes" -> heap.peak,
      "checks" -> checks,
      "trace" -> (if (trace) obj("origin_ms" -> tracer.originMs,
        "spans" -> tracer.json, "listener" -> recorder.json) else null))
  }

  /** Session set-up: GraftSession.local() plus Tables.validate on the
    * input dir. The first is timed from JVM start, later ones from the
    * moment the previous session has stopped and its garbage is
    * collected. */
  private def setup(k: Int, root: Span): Json.Obj = {
    if (spark != null) {
      spark.stop()
      System.gc()
    }
    val t0 = if (k == 1) {
      val sinceJvmStartNs =
        (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
      System.nanoTime() - sinceJvmStartNs
    } else System.nanoTime()
    val span = tracer.open(s"setup$k", "setup", root)
    val l0 = System.nanoTime()
    spark = GraftSession.local()
    val localS = (System.nanoTime() - l0) / 1e9
    spark.sparkContext.setLogLevel("ERROR")
    val bad = Tables.validate(spark, dir)
    require(bad.isEmpty, s"input dir $dir fails Tables.validate: ${bad.mkString("; ")}")
    tracer.close(span)
    obj("setup_s" -> (System.nanoTime() - t0) / 1e9, "local_s" -> localS)
  }

  private def pass(kind: String, index: Int, root: Span): (Json.Obj, Double) = {
    cowMergeS = 0.0
    progress.clear()
    val span = tracer.open(s"$kind$index", "pass", root)
    val mc0 = ModelCache.buildCosts(spark)
    val opResults = ops.map(op => runOp(op, index, span))
    val wall = tracer.close(span)
    val mc1 = ModelCache.buildCosts(spark)
    val built = mc1.keySet -- mc0.keySet
    (obj(
      "kind" -> kind, "index" -> index, "span" -> span.id, "wall_s" -> wall,
      "ops" -> opResults,
      "modelcache_builds" -> built.size,
      "modelcache_build_s" -> built.toSeq.map(mc1).sum,
      "cached_bytes" -> storageBytes(),
      "cow_merge_s" -> cowMergeS,
      "streams" -> progress.toSeq.map(streamStats)), wall)
  }

  private def runOp(op: String, passIndex: Int, passSpan: Span): Json.Obj = {
    val span = tracer.open(op, "op", passSpan)
    val module = moduleOf.getOrElse(op, op.takeWhile(_ != '.'))
    val sc = spark.sparkContext
    var build: Span = null
    var exec: Span = null
    val fields = mutable.ArrayBuffer[(String, Any)]("name" -> op, "module" -> module,
      "span" -> span.id)
    try {
      build = tracer.open("build", "build", span)
      sc.setLocalProperty(Harness.SpanProperty, build.id.toString)
      val df = buildOp(op, passIndex)
      fields += "build_s" -> tracer.close(build)
      exec = tracer.open("exec", "exec", span)
      sc.setLocalProperty(Harness.SpanProperty, exec.id.toString)
      val hashed = hashedRows(df)
      val (rows, hash) = hashSink(hashed)
      fields += "exec_s" -> tracer.close(exec)
      fields ++= Seq("status" -> "ok", "rows" -> rows, "hash" -> hash.toString)
      if (trace) {
        val phases = Seq(df, hashed).flatMap(_.queryExecution.tracker.phases.values)
        fields += "planning_s" -> phases.map(_.durationMs).sum / 1e3
        fields += "plan" -> PlanShape.count(hashed.queryExecution.executedPlan)
      }
    } catch {
      case e: Throwable =>
        Seq(build, exec).filter(s => s != null && s.endNs < 0).foreach(tracer.close)
        fields ++= Seq("status" -> "error",
          "error" -> s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
    } finally {
      sc.setLocalProperty(Harness.SpanProperty, null)
      val s = tracer.close(span)
      fields += "op_s" -> s
      println(f"perfbench: ${passSpan.name}%-6s $op%-30s $s%8.3f s")
    }
    obj(fields.toSeq: _*)
  }

  /** The operation's DataFrame: a registered query, or a direct call into
    * sources.CowTable / streaming.EventStream on the seeded input. */
  private def buildOp(op: String, passIndex: Int): DataFrame = op match {
    case "CowTable.create" =>
      CowTable.create(cowBase, cowRoot(passIndex), "o_orderkey", 8)
      CowTable.read(spark, cowRoot(passIndex))
    case "CowTable.merge" =>
      val t0 = System.nanoTime()
      CowTable.merge(spark, cowRoot(passIndex), cowDelta, "batch-0")
      cowMergeS += (System.nanoTime() - t0) / 1e9
      CowTable.read(spark, cowRoot(passIndex))
    case "CowTable.changes" =>
      CowTable.changes(spark, cowRoot(passIndex), 1,
        CowTable.currentVersion(spark, cowRoot(passIndex)))
    case s if s.startsWith("EventStream.") => drainStream(s.stripPrefix("EventStream."), passIndex)
    case q => queries(q)(spark, dir)
  }

  // ---- direct CowTable calls: create, one upsert batch (10 % of the
  // orders updated, 2 % inserted), then the change feed between the two
  // snapshots.

  private def cowRoot(passIndex: Int) = s"$work/cow/pass$passIndex"

  private def cowBase: DataFrame = Tables.orders(spark, dir)
    .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))

  private def cowDelta: DataFrame = {
    val updates = cowBase.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1.0)
      .withColumn("o_orderstatus", lit("U"))
    val inserts = cowBase.filter(col("o_orderkey") % 50 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
    updates.unionByName(inserts)
  }

  /** Outputs the direct calls must reproduce, computed by plain joins. */
  private def directChecks(): Seq[Json.Obj] = {
    val out = mutable.ArrayBuffer.empty[Json.Obj]
    if (ops.contains("CowTable.merge")) {
      val expected = cowBase.join(cowDelta.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
        .unionByName(cowDelta)
      val (rows, hash) = hashSink(hashedRows(expected))
      out += obj("op" -> "CowTable.merge", "rows" -> rows, "hash" -> hash.toString)
      if (ops.contains("CowTable.changes"))
        out += obj("op" -> "CowTable.changes", "rows" -> cowDelta.count())
    }
    out.toSeq
  }

  // ---- EventStream twins: drain the staged day files one file per
  // micro-batch into toPartitionedParquet, then read the sink back.

  private def drainStream(twin: String, passIndex: Int): DataFrame = {
    val path = s"$dir/stream/events"
    val events = spark.readStream.schema(spark.read.parquet(path).schema)
      .option("maxFilesPerTrigger", "1").parquet(path)
    val df = twin match {
      case "windowedCounts" => EventStream.windowedCounts(events)
    }
    val base = s"$work/stream/$twin/pass$passIndex"
    val q = EventStream.toPartitionedParquet(df, s"$base/out", s"$base/checkpoint")
    try q.processAllAvailable() finally q.stop()
    q.exception.foreach(e => throw e)
    progress += q.recentProgress
    spark.read.parquet(s"$base/out").drop("batch_id")
  }

  private def streamStats(ps: Array[StreamingQueryProgress]): Json.Obj = obj(
    "batches" -> ps.length,
    "batch_ms" -> ps.toSeq.map(_.batchDuration),
    "input_rows" -> ps.map(_.numInputRows).sum,
    "state_rows" -> ps.lastOption.map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L))

  // ---- output hashing

  /** One 64-bit hash per row over every column (maps rendered to JSON,
    * since Spark refuses to hash map values). */
  private def hashedRows(df: DataFrame): DataFrame = {
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      if (hasMap(f.dataType)) to_json(c) else c
    }
    df.select(xxhash64((if (cols.isEmpty) Seq(lit(0)) else cols): _*).as("h"))
  }

  /** Runs the hashed rows to completion in one job; returns (rows, sum of
    * row hashes mod 2^64). */
  private def hashSink(hashed: DataFrame): (Long, Long) = {
    val sc = spark.sparkContext
    val n = sc.longAccumulator
    val sum = sc.longAccumulator
    hashed.foreachPartition(new ForeachPartitionFunction[Row] {
      override def call(it: java.util.Iterator[Row]): Unit = {
        var c = 0L
        var s = 0L
        while (it.hasNext) { s += it.next().getLong(0); c += 1 }
        n.add(c)
        sum.add(s)
      }
    })
    (n.value, sum.value)
  }

  private def storageBytes(): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Storage bytes once the context cleaner has released the blocks of
    * RDDs the last collection found unreachable (e.g. the local checkpoints
    * of finished merges): polled until two readings 100 ms apart agree. */
  private def settledStorageBytes(): Long = {
    var last = -1L
    var cur = storageBytes()
    var polls = 0
    while (cur != last && polls < 30) {
      Thread.sleep(100)
      last = cur
      cur = storageBytes()
      polls += 1
    }
    cur
  }

  private def drainListenerBus(): Unit =
    if (trace) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Dumps the operations that have oracle SQL with graft.Verify (which
    * writes `<op>.parquet` plus oracle_sql.json), for
    * scripts/check_oracle.py. Verify stops the session when it is done. */
  def dumpOracleOps(dumpDir: String): Unit = {
    val oracle = SparkEntry.oracleSql.keySet
    val named = ops.filter(oracle)
    if (named.nonEmpty) Verify.main((Seq(dir, dumpDir) ++ named).toArray)
  }

  def stop(): Unit = SparkSession.getActiveSession.foreach(_.stop())
}

/** Peak old-generation heap in use after full collections, sampled before
  * the cold pass and after each pass (outside every timed interval). The
  * first collection lets the context cleaner release the blocks of
  * broadcasts and RDDs it found unreachable; the figure is read after a
  * second one, so it is the live data the process holds there. */
final class HeapWatch {
  private var peakBytes = 0L

  def sample(): Unit = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    val used = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old") || p.getName.contains("Tenured"))
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    peakBytes = math.max(peakBytes, used)
  }

  def peak: Long = peakBytes
}
