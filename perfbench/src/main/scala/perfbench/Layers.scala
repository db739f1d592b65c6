package perfbench

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col}

import graft.fast.FastKayvee
import graft.parse.LogParse
import graft.project.MetricProject
import graft.routes.RouteEngine
import graft.streaming.{Delivery, KinesisLiteShardPartition, KinesisLiteShardReader, StreamPipeline}

/** Direct calls into each layer's public functions on one fixed batch,
  * timed from outside as spans. Each call runs `Reps` times; the median is
  * reported, so the first, cold call does not set the figure. */
object Layers {
  val BatchRecords = 40000 // one default-cap fetch (10,000 records) from each of 4 shards
  val Reps = 3
  val ReaderLines = 60000
  val ReaderRange = 5000

  private final class NullSink extends StreamPipeline.BatchSink {
    override def submit(tag: String, rows: Seq[Row]): Unit = ()
  }
  private final class NullCwSink extends Delivery.CwSink {
    override def putMetricData(region: String, rows: Seq[Row]): Unit = ()
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def median(xs: Seq[Double]): Double = Stats.quantile(xs, 0.5)

  /** Per-layer figures; `failed` counts projection counts that differ from
    * what the generator expects for the batch. */
  final case class Result(metrics: Map[String, Double], failed: Int)

  def run(spark: SparkSession, tracer: Tracer, work: java.io.File, seed: Long, mix: Mix, cfg: StreamPipeline.Config): Result =
    tracer.span("layers")(rootId => measure(spark, tracer, rootId, work, seed, mix, cfg))._1

  private def measure(spark: SparkSession, tracer: Tracer, rootId: Int, work: java.io.File, seed: Long, mix: Mix,
      cfg: StreamPipeline.Config): Result = {
    val gen = new Gen(seed * 7919 + 17, mix)
    val book = new Gen.Book
    val fixedTs = 1700000000L
    val lines = Seq.fill(BatchRecords) { val (l, e) = gen.line(fixedTs); book.add(l, e); l }
    val raw = spark.createDataset(lines)(Encoders.STRING).toDF("raw").repartition(Gen.Shards).persist()
    raw.count()
    val env = cfg.deployEnv

    def timed(name: String)(body: => Unit): Double =
      median((1 to Reps).map(_ => tracer.span(s"layer.$name", rootId)(_ => body)._2.ms))

    // each layer runs over its input materialised in the cache, so its time
    // is its own work plus one scan of that input. A difference of prefix
    // timings is no self time: Catalyst plans a longer prefix differently,
    // and the difference can be negative.
    def cached(df: DataFrame): DataFrame = { val c = df.persist(); c.count(); c }
    val parseMs = timed("parse")(noop(LogParse.parse(raw, env)))
    val parsed = cached(LogParse.parse(raw, env))
    val routesMs = timed("routes")(noop(RouteEngine.withRoutes(parsed)))
    val routed = cached(RouteEngine.withRoutes(parsed))
    parsed.unpersist()
    val projectMs = timed("project")(noop(MetricProject.withStatus(routed)))
    val statused = cached(MetricProject.withStatus(routed))
    routed.unpersist()
    val unifiedMs = timed("unified")(noop(Delivery.unifiedFromStatused(statused)))
    val p = MetricProject.projectStatused(statused)
    val counts = Map(
      "project.dd_rows" -> p.dd.count().toDouble,
      "project.cw_rows" -> p.cw.count().toDouble,
      "project.dead_rows" -> p.deadLetter.count().toDouble,
      "project.ignored" -> p.ignored.count().toDouble)
    val es = book.expect.values.toSeq
    val expected = Map(
      "project.dd_rows" -> es.filter(_.kind == Expect.Ok).map(_.ddRows).sum.toDouble,
      "project.cw_rows" -> es.count(e => e.kind == Expect.Ok && e.cwRegion != null).toDouble,
      "project.dead_rows" -> es.count(_.kind == Expect.Dead).toDouble,
      "project.ignored" -> es.count(_.kind == Expect.Ignored).toDouble)
    val countFailures = counts.count { case (k, v) => expected(k) != v }
    if (countFailures > 0) System.err.println(s"perfbench: layer counts $counts != expected $expected")

    val fastMs = timed("fastkayvee")(noop(FastKayvee.unified(raw, env).toDF()))

    // Delivery on one pre-sorted partition holding the whole batch
    val sorted = Delivery.unifiedFromStatused(statused)
      .filter(col("kind") =!= "dead")
      .withColumn("rid", coalesce(col("dd.record_id"), col("cw.record_id")))
      .sort(col("tag"), col("rid"))
      .collect()
    val (nullSink, nullCw) = (new NullSink, new NullCwSink)
    val deliverMs = timed("deliverPartition")(Delivery.deliverPartition(sorted.iterator, nullSink, Some(nullCw),
      cfg.retryAttempts, cfg.retryBaseMs, cfg.batchCount, cfg.cwRegions).size)
    statused.unpersist(); raw.unpersist()

    // the shard reader over an equal range at the start vs the end of a long shard
    val shardDir = new java.io.File(work, "reader")
    Gen.writeBacklog(shardDir, new Gen(seed * 7919 + 29, mix), ReaderLines, new Gen.Book, _ => fixedTs, shards = 1)
    val shard = new java.io.File(shardDir, "shard-0.txt").getPath
    def read(from: Long): Unit = {
      val r = new KinesisLiteShardReader(KinesisLiteShardPartition(shard, "shard-0.txt", from, from + ReaderRange))
      try { var n = 0; while (r.next()) { r.get(); n += 1 }; require(n == ReaderRange, s"reader returned $n lines") }
      finally r.close()
    }
    val earlyMs = median((1 to 5).map(_ => tracer.span("layer.reader.early", rootId)(_ => read(0))._2.ms))
    val lateMs = median((1 to 5).map(_ => tracer.span("layer.reader.late", rootId)(_ => read(ReaderLines - ReaderRange))._2.ms))

    Result(counts ++ Map(
      "parse.self_ms" -> parseMs,
      "routes.self_ms" -> routesMs,
      "project.self_ms" -> projectMs,
      "unified.self_ms" -> unifiedMs,
      "fastkayvee.unified_ms" -> fastMs,
      "deliver.self_ms" -> deliverMs,
      "source.read_ms.early" -> earlyMs,
      "source.read_ms.late" -> lateMs
    ), countFailures)
  }
}
