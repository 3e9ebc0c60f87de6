package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark. `perfbench/run.py` builds the inputs, starts
  * this program with `key=value` arguments, and turns the raw result file it
  * writes (`out=`) into the benchmark's metrics.
  *
  * Modes: `batch` runs a closed loop of registered queries
  * ([[BatchRun]]); `stream` runs the file-source ingest pipeline against an
  * external load generator ([[StreamRun]]).
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val conf = args.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"argument is not key=value: $a")
      a.take(i) -> a.drop(i + 1)
    }.toMap
    conf("mode") match {
      case "batch"  => BatchRun(conf)
      case "stream" => StreamRun(conf)
      case m        => sys.error(s"unknown mode: $m")
    }
  }

  /** graft.Bench's session config; Spark's scratch and warehouse
    * directories live under the run's work directory. */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Set up `times` times: a fresh SparkContext, then one action over each
    * table the workload reads. Every context but the last is stopped.
    * Returns the kept session and each set-up's seconds. */
  def setUp(conf: Map[String, String], times: Int): (SparkSession, Seq[Double]) = {
    val cores = conf("cores").toInt
    val tables = conf("tables").split(',').toSeq
    var spark: SparkSession = null
    val secs = (1 to times).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cores, conf("work"))
      tables.foreach(t => graft.Tables.byName(t)(spark, conf("data")).count())
      (System.nanoTime() - t0) / 1e9
    }
    (spark, secs)
  }

  /** graft.Bench's release sweep: graft-registered frames, the SQL cache,
    * and every non-checkpointed persisted RDD. Returns frames released. */
  def sweep(s: SparkSession): Int = {
    val n = graft.Caches.releaseAll(s)
    s.catalog.clearCache()
    n
  }

  /** The run conditions stamped into every result. */
  def conditions(s: SparkSession, cores: Int): Map[String, Any] = {
    val c = s.sparkContext.getConf
    Map(
      "cores" -> cores,
      "master" -> s.sparkContext.master,
      "shuffle_partitions" -> s.conf.get("spark.sql.shuffle.partitions"),
      "serializer" -> c.get("spark.serializer", "java"),
      "aqe" -> s.conf.get("spark.sql.adaptive.enabled"),
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "spark_version" -> s.version)
  }

  def now(): Long = System.currentTimeMillis()
}

/** Minimal JSON encoder for the harness's result files. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x)     => apply(x)
    case RawJson(j)  => j
    case s: String   => quote(s)
    case b: Boolean  => b.toString
    case d: Double   => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float    => apply(f.toDouble)
    case n: Int      => n.toString
    case n: Long     => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_]    => apply(xs.toSeq)
    case o               => quote(o.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def write(path: String, v: Any): Unit =
    Files.writeString(Paths.get(path), apply(v))
}
