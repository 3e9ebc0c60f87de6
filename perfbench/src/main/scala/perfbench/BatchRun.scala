package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A closed loop over registered queries: one client runs the workload's
  * queries in a fixed order, pass after pass, each pass in a new session
  * followed per query by graft.Bench's release sweep, so session-keyed
  * memos (FraudML.trained, Similarity) and operator caches never turn a
  * later pass into lookups. Each result goes in full to the noop sink.
  *
  * Order of a run: set-up (measured several times), one untimed
  * verification pass that writes every result to parquet for the
  * correctness check, then timed passes for `seconds`; with `trace=1`
  * every second pass has [[Trace]] attached. The verification pass runs
  * the same plans as the timed passes up to the sink, so it also warms
  * the JIT and Spark's generated-code cache.
  */
object BatchRun {
  type Query = (SparkSession, String) => DataFrame

  /** Layer of a query: the module whose registry defines it. */
  def layer(name: String): String =
    if (graft.graph.GraphQueries.queries.contains(name) ||
        graft.graph.FacadeQueries.queries.contains(name)) "graph"
    else if (graft.ml.FraudML.queries.contains(name)) "ml"
    else if (graft.plans.GroupedTopK.queries.contains(name)) "plans"
    else if (graft.sinks.MartPipeline.queries.contains(name) ||
             graft.sinks.Bucketing.queries.contains(name)) "sinks"
    else if (graft.sources.Ingest.queries.contains(name)) "sources"
    else "operators"

  /** Registry name for a short id such as `g06` or `g06b`. */
  def resolve(id: String): String = {
    val hits = graft.SparkEntry.queries.keys.filter(_.startsWith(id + "_")).toSeq
    require(hits.size == 1, s"query id $id matches ${hits.sorted.mkString(",")}")
    hits.head
  }

  def apply(conf: Map[String, String]): Unit = {
    val cores = conf("cores").toInt
    val data = conf("data")
    val names = conf("queries").split(',').toSeq.map(resolve)
    val seconds = conf("seconds").toDouble
    val traced = conf("trace") == "1"
    val started = System.nanoTime()
    val (spark, setups) = Harness.setUp(conf, conf("setups").toInt)
    val registry = graft.SparkEntry.queries
    val phases = ArrayBuffer("setup" -> (System.nanoTime() - started) / 1e9)
    def phase(name: String): Unit =
      phases += name -> ((System.nanoTime() - started) / 1e9 - phases.map(_._2).sum)

    val verified = names.map { name =>
      var inputs = Seq.empty[String]
      val error =
        try {
          val df = registry(name)(spark, data)
          inputs = df.inputFiles.toSeq
          df.write.mode("overwrite").parquet(s"${conf("verify_dir")}/$name")
          None
        } catch { case NonFatal(e) => Some(e.toString) }
      Harness.sweep(spark)
      Map("query" -> name, "layer" -> layer(name), "error" -> error, "input_files" -> inputs)
    }
    // the DuckDB oracle spellings check_oracle.py reads for these queries
    Json.write(s"${conf("verify_dir")}/oracle_all.json",
      graft.SparkEntry.oracleSql.filter(kv => names.contains(kv._1)))
    Json.write(s"${conf("verify_dir")}/oracle_alt_all.json",
      graft.SparkEntry.altOracleSql.filter(kv => names.contains(kv._1)))

    phase("verify")

    // Passes run until `seconds` have elapsed, at least two. With trace=1
    // every second pass is traced, so traced and untraced passes see the
    // same warm-up and the difference between them is the tracing overhead.
    val trace = if (traced) Some(new Trace) else None
    val untraced, tracedPasses = ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    var i = 0
    while (i < 2 || (System.nanoTime() - t0) / 1e9 < seconds) {
      val t = trace.filter(_ => i % 2 == 1)
      val s = spark.newSession()
      t.foreach { x => spark.sparkContext.addSparkListener(x); s.listenerManager.register(x) }
      val start = Harness.now()
      val execs = names.map(n => execute(s, n, registry(n), data))
      val pass = Map("start_ms" -> start, "end_ms" -> Harness.now(), "queries" -> execs)
      t.foreach { x => x.drain(); spark.sparkContext.removeSparkListener(x) }
      (if (t.isDefined) tracedPasses else untraced) += pass
      i += 1
    }
    phase("timed")
    Json.write(conf("out"), Map(
      "phases_s" -> phases.toMap,
      "conditions" -> Harness.conditions(spark, cores),
      "setup_s" -> setups,
      "verify" -> verified,
      "passes" -> untraced.toSeq,
      "traced_passes" -> tracedPasses.toSeq,
      "trace" -> trace.map(_.result())))
    spark.stop()
  }

  /** Bytes of stored blocks per RDD id held in the context right now: the
    * SQL cache and persisted RDDs. Checkpoint pins are left out: the
    * ContextCleaner drops unreferenced ones whenever a GC happens to run,
    * so their total at a given instant is not a property of the query. */
  private def held(s: SparkSession): Map[Int, Long] = {
    val pinned = s.sparkContext.getPersistentRDDs.filter(_._2.isCheckpointed).keySet
    s.sparkContext.getRDDStorageInfo.filterNot(i => pinned(i.id))
      .map(i => i.id -> (i.memSize + i.diskSize)).toMap
  }

  /** One timed execution: build the plan (`fn` may run eager jobs), run
    * the noop sink action, then — outside the timed interval — read the
    * storage the query added and sweep. */
  private def execute(s: SparkSession, name: String, fn: Query, data: String): Map[String, Any] = {
    val before = held(s)
    val startMs = Harness.now()
    val t0 = System.nanoTime()
    var t1 = t0
    var buildEndMs = startMs
    val error =
      try {
        val df = fn(s, data)
        t1 = System.nanoTime()
        buildEndMs = Harness.now()
        df.write.mode("overwrite").format("noop").save()
        None
      } catch { case NonFatal(e) => Some(e.toString) }
    val t2 = System.nanoTime()
    val endMs = Harness.now()
    // storage of RDDs that appeared during this query; blocks of earlier
    // queries may still be draining (the sweep's unpersist is asynchronous)
    val added = held(s).collect { case (id, b) if !before.contains(id) => b }.sum
    val checkpointed = s.sparkContext.getPersistentRDDs.values.count(_.isCheckpointed)
    val released = Harness.sweep(s)
    Map("query" -> name, "layer" -> layer(name), "error" -> error,
      "build_s" -> (t1 - t0) / 1e9, "exec_s" -> (t2 - t1) / 1e9,
      "wall_s" -> (t2 - t0) / 1e9,
      "start_ms" -> startMs, "build_end_ms" -> buildEndMs, "end_ms" -> endMs,
      "cached_bytes" -> added, "checkpointed_rdds" -> checkpointed,
      "released" -> released)
  }
}
