package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import graft.streaming.StreamPipeline

/** The ingest pipeline under an open-loop load: graft's file source →
  * parse → derive → foreachBatch line-protocol writer, plus windowedCounts
  * on the same source for state, both on a 1 s trigger.
  *
  * Protocol with run.py, through files: this program writes `ready` once
  * both queries run; run.py then starts the load generator, and when it
  * has finished writes the number of events it generated to `stop`. This
  * program waits until that many rows reached the writer (bounded), then
  * writes each arrival, the queries' progress reports and, with `trace=1`,
  * the listener's copy of them.
  */
object StreamRun {
  /** (event_id, due time in µs from the row's ts, arrival time in µs). */
  private val arrivals = new ConcurrentLinkedQueue[Array[Long]]()

  /** The foreachBatch writer: parses the line protocol graft emits and
    * stamps each row's arrival. */
  private def writer(lines: Iterator[String]): Unit = lines.foreach { l =>
    val now = System.currentTimeMillis() * 1000L
    val id = l.substring(l.indexOf("event_id=") + 9, l.indexOf("i,")).toLong
    val tsNs = l.substring(l.lastIndexOf(' ') + 1).toLong
    arrivals.add(Array(id, tsNs / 1000L, now))
  }

  def apply(conf: Map[String, String]): Unit = {
    val cores = conf("cores").toInt
    val (spark, setups) = Harness.setUp(conf, conf("setups").toInt)
    val inbox = conf("inbox")
    Files.createDirectories(Paths.get(inbox))
    val progress = new ConcurrentLinkedQueue[String]()
    if (conf("trace") == "1") spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress.json)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    val trigger = Trigger.ProcessingTime("1 second")
    val derived = StreamPipeline.derive(StreamPipeline.parse(
      StreamPipeline.fileSource(spark, inbox)))
    val sink = StreamPipeline.foreachBatchSink(derived, writer,
      new ConcurrentLinkedQueue[Long](), trigger)
      .queryName("sink")
      .option("checkpointLocation", s"${conf("work")}/checkpoint/sink")
      .start()
    val state = StreamPipeline.windowedCounts(derived).writeStream
      .queryName("state").format("noop").outputMode("update").trigger(trigger)
      .option("checkpointLocation", s"${conf("work")}/checkpoint/state")
      .start()
    Files.writeString(Paths.get(conf("ready")), "ready")

    val stop = Paths.get(conf("stop"))
    val deadline = Harness.now() + conf("max_wait_ms").toLong
    while (!Files.exists(stop) && Harness.now() < deadline) Thread.sleep(20)
    val expected = if (Files.exists(stop)) Files.readString(stop).trim.toLong else -1L
    val drainBy = Harness.now() + conf("drain_ms").toLong
    while (arrivals.size < expected && Harness.now() < drainBy) Thread.sleep(20)
    // one more trigger so the state query has seen the last file too
    Thread.sleep(1500)
    val queries: Seq[StreamingQuery] = Seq(sink, state)
    queries.foreach(_.stop())

    val sb = new StringBuilder
    arrivals.asScala.foreach(a => sb.append(a(0)).append(',').append(a(1)).append(',')
      .append(a(2)).append('\n'))
    Files.writeString(Paths.get(conf("arrivals")), sb.toString)
    Json.write(conf("out"), Map(
      "conditions" -> Harness.conditions(spark, cores),
      "setup_s" -> setups,
      "expected" -> expected,
      "progress" -> queries.map(q => q.name -> q.recentProgress.map(p => RawJson(p.json)).toSeq).toMap,
      "listener_progress" -> progress.asScala.toSeq.map(RawJson)))
    spark.stop()
  }
}

/** A value that is already JSON. */
final case class RawJson(json: String)
