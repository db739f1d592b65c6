package perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row

import graft.streaming.{Delivery, StreamPipeline}

/** What the sinks saw, JVM-wide. Spark runs `local[n]`, so executor tasks
  * call the sinks inside this JVM and one ledger sees every submit. All
  * access is under the ledger's lock; a submit is a few hundred rows. */
object Ledger {
  // planted faults, set before a query starts
  private var transient = mutable.LongMap.empty[Unit]
  private var permanent = mutable.LongMap.empty[Unit]
  private var failingRegion: String = null

  // per record
  val firstSubmitNs = mutable.LongMap.empty[Long] // first DD submit carrying the record
  val delivered = mutable.LongMap.empty[Int] // DD rows accepted
  val tags = mutable.LongMap.empty[String] // tag of the accepted rows
  val badTag = mutable.LongMap.empty[Unit] // rows of one record under two tags
  val failures = mutable.LongMap.empty[Int] // failed submits carrying the record
  val lastFailNs = mutable.LongMap.empty[Long]
  val cwAccepted = mutable.LongMap.empty[Int] // CloudWatch datums accepted
  // meta series, last write wins per (metric, tags, point_ts)
  val meta = mutable.HashMap.empty[(String, String, Long), Double]

  var submits, rowsSubmitted, partialFailures, retries, backoffNs = 0L
  var cwDatumsOk, cwDatumsFailed, metaRows = 0L
  var lastAckNs = 0L

  def reset(t: Iterable[Long], p: Iterable[Long], failRegion: String): Unit =
    synchronized {
      transient = mutable.LongMap.from(t.map(_ -> (())))
      permanent = mutable.LongMap.from(p.map(_ -> (())))
      failingRegion = failRegion
      Seq(firstSubmitNs, delivered, tags, badTag, failures, lastFailNs, cwAccepted)
        .foreach(_.clear())
      meta.clear()
      submits = 0; rowsSubmitted = 0; partialFailures = 0; retries = 0; backoffNs = 0
      cwDatumsOk = 0; cwDatumsFailed = 0; metaRows = 0; lastAckNs = 0
    }

  /** Datadog submit: planted faults fail as a `PartialSendBatchError`
    * carrying only the failing records' rows. */
  def ddSubmit(tag: String, rows: Seq[Row]): Unit = {
    val now = System.nanoTime()
    val failed = synchronized {
      submits += 1; rowsSubmitted += rows.size
      val seen = mutable.LongMap.empty[Boolean] // rid -> fails in this submit
      var isRetry = false
      rows.foreach { r =>
        val rid = r.getLong(0)
        if (!seen.contains(rid)) {
          if (!firstSubmitNs.contains(rid)) firstSubmitNs(rid) = now
          val prior = failures.getOrElse(rid, 0)
          if (prior > 0) {
            isRetry = true
            backoffNs += now - lastFailNs(rid)
          }
          seen(rid) = permanent.contains(rid) || (prior == 0 && transient.contains(rid))
        }
      }
      if (isRetry) retries += 1
      val bad = rows.filter(r => seen(r.getLong(0)))
      rows.foreach { r =>
        val rid = r.getLong(0)
        if (!seen(rid)) {
          delivered(rid) = delivered.getOrElse(rid, 0) + 1
          tags.get(rid) match {
            case Some(t) if t != tag => badTag(rid) = ()
            case None                => tags(rid) = tag
            case _                   =>
          }
        }
      }
      seen.foreach { case (rid, f) =>
        if (f) { failures(rid) = failures.getOrElse(rid, 0) + 1; lastFailNs(rid) = System.nanoTime() }
      }
      if (bad.nonEmpty) partialFailures += 1
      else lastAckNs = math.max(lastAckNs, System.nanoTime())
      bad
    }
    if (failed.nonEmpty) throw new Delivery.PartialSendBatchError("planted datadog fault", failed)
  }

  def metaSubmit(rows: Seq[Row]): Unit = synchronized {
    metaRows += rows.size
    rows.foreach(r => meta((r.getString(0), r.getString(2), r.getLong(3))) = r.getDouble(4))
  }

  /** CloudWatch put: every put to the failing region throws. */
  def cwPut(region: String, rows: Seq[Row]): Unit = {
    val fail = synchronized {
      if (region == failingRegion) { cwDatumsFailed += rows.size; true }
      else {
        cwDatumsOk += rows.size
        rows.foreach { r =>
          val rid = r.getLong(0)
          cwAccepted(rid) = cwAccepted.getOrElse(rid, 0) + 1
        }
        false
      }
    }
    if (fail) throw new RuntimeException(s"planted cloudwatch fault in $region")
  }
}

/** The consumer's Datadog client: routes meta series and alert rows to the ledger. */
final class CountingSink extends StreamPipeline.BatchSink {
  override def submit(tag: String, rows: Seq[Row]): Unit =
    if (tag == "meta") Ledger.metaSubmit(rows) else Ledger.ddSubmit(tag, rows)
}

final class CountingCwSink extends Delivery.CwSink {
  override def putMetricData(region: String, rows: Seq[Row]): Unit = Ledger.cwPut(region, rows)
}
