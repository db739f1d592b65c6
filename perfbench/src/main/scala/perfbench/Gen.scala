package perfbench

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable

import graft.fast.FastKayvee

/** What the consumer must do with one generated line, known at generation
  * time from the template alone. */
final case class Expect(
    kind: Int, // Expect.Ok | Ignored | Dead
    ddRows: Int, // Datadog rows the line projects to
    tag: String, // routing tag of those rows
    cwRegion: String, // region of its one CloudWatch datum, or null
    fault: Int, // Expect.NoFault | Transient | Permanent
    kvRoutes: Int, // `_kvmeta` routes of any type (meta route counts)
    tsValid: Boolean, // header parses; counted by the meta volume series
    index: Long // position in the generated sequence
)

object Expect {
  val Ok = 0; val Ignored = 1; val Dead = 2
  val NoFault = 0; val Transient = 1; val Permanent = 2
}

/** A line mix: which templates, in which shares, and the planted sink
  * faults. Shares are per mille. */
final case class Mix(
    kvmeta: Int,
    cloudwatch: Int,
    ignored: Int,
    global: Int,
    dead: Int,
    fanOut: Boolean, // several alerts routes per kvmeta/CloudWatch line
    transientPer: Int, // 1 in N default-tag records fails its first submit
    permanentPer: Int // 1 in N default-tag records fails every submit
) {
  require(kvmeta + cloudwatch + ignored + global + dead == 1000, "mix shares must sum to 1000")
}

object Mix {
  /** Catch-up traffic: `default` dominates, one alerts route per line. */
  val realistic = Mix(700, 100, 90, 80, 30, fanOut = false, 0, 0)
  /** Fan-out-heavy traffic with planted Datadog faults. */
  val faulty = Mix(700, 100, 90, 80, 30, fanOut = true, transientPer = 500, permanentPer = 5000)
}

/** Seeded kayvee line generator (templates after FIXTURES.md A1–A4).
  *
  * Every line is padded to exactly [[Gen.LineBytes]] bytes including its
  * newline. 4096 is a multiple of the line length, so page boundaries of a
  * shard file always fall between lines: a reader that sees a file length
  * while an append is still being copied in never sees half a line. */
final class Gen(seed: Long, mix: Mix) {
  import Gen._

  private val rnd = new java.util.SplittableRandom(seed)
  private var next = 0L

  private def pick[T](xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.length))

  private def header(tsSec: Long, host: String, prog: String): String =
    TsFormat.format(Instant.ofEpochSecond(tsSec, rnd.nextInt(1000000) * 1000L)) + " " + host + " " + prog

  private def appProg(app: Int): String =
    s"production--app-$app/arn%3Aaws%3Aecs%3Aus-west-1%3A589690932525%3Atask%2Fbe5eafc1-8e44-489a-8942-${"%012d".format(app)}[${1000 + app}]:"

  private def pad(s: String): String = {
    require(s.length < LineBytes, s"template longer than ${LineBytes - 1} bytes: ${s.length}")
    s + " " * (LineBytes - 1 - s.length)
  }

  /** Pads in front of a trailing ` <n>ms` so the mongo regex still ends the line. */
  private def padBefore(s: String, suffix: String): String = {
    val n = LineBytes - 1 - s.length - suffix.length
    require(n >= 0, s"template longer than ${LineBytes - 1} bytes: ${s.length + suffix.length}")
    s + " " * n + suffix
  }

  private val permanentPpm = if (mix.permanentPer > 0) 1000000 / mix.permanentPer else 0
  private val transientPpm = if (mix.transientPer > 0) 1000000 / mix.transientPer else 0

  private def faultFor(tag: String): Int =
    if (tag != "default") Expect.NoFault
    else {
      val r = rnd.nextInt(1000000)
      if (r < permanentPpm) Expect.Permanent
      else if (r < permanentPpm + transientPpm) Expect.Transient
      else Expect.NoFault
    }

  /** Next line with its expectation; `tsSec` is the line's log time. */
  def line(tsSec: Long): (String, Expect) = {
    val i = next; next += 1
    val host = s"host-${rnd.nextInt(50)}"
    val app = rnd.nextInt(20)
    val r = rnd.nextInt(1000)
    val m = mix
    if (r < m.kvmeta) {
      val district = s"d${rnd.nextInt(200)}"
      val auth = pick(Auth)
      val alerts =
        if (!m.fanOut)
          """{"type":"alerts","series":"oauth.login_start","dimensions":["district","title","auth_method"],"stat_type":"counter","value_field":"value","rule":"login-start"}"""
        else
          """{"type":"alerts","series":"oauth.login_start","dimensions":["district","title","auth_method"],"stat_type":"counter","value_field":"value","rule":"login-start"},""" +
            """{"type":"alerts","series":"oauth.latency","dimensions":["district"],"stat_type":"gauge","value_field":"latency_ms","rule":"login-latency"},""" +
            """{"type":"alerts","series":"oauth.by_client","dimensions":["client_id"],"stat_type":"counter","rule":"login-client"}"""
      val s = header(tsSec, host, appProg(app)) +
        s""" {"level":"info","source":"oauth","title":"login_start","action":"login","type":"counter","session_id":"s$seed-$i","auth_method":"$auth","district":"$district","client_id":"c${rnd.nextInt(1000)}","latency_ms":${rnd.nextInt(5000) / 10.0},"_kvmeta":{"team":"eng-team","kv_version":"3.8.2","kv_language":"js","routes":[{"type":"analytics","series":"series-name","rule":"login-events"},$alerts]}}"""
      val rows = if (m.fanOut) 3 else 1
      (pad(s), Expect(Expect.Ok, rows, "default", null, faultFor("default"), 1 + rows, tsValid = true, i))
    } else if (r < m.kvmeta + m.cloudwatch) {
      val region = pick(Regions)
      val extra =
        if (m.fanOut)
          """,{"type":"alerts","series":"container.exit_code","dimensions":["title"],"stat_type":"gauge","value_field":"exit_code","rule":"container-exit-code"}"""
        else ""
      val s = header(tsSec, host, appProg(app)) +
        s""" {"title":"container_exit","region":"$region","exit_code":${rnd.nextInt(3)},"task":"t$seed-$i","_kvmeta":{"team":"infra","kv_version":"3.8.2","kv_language":"go","routes":[{"type":"alerts","series":"ContainerExitCount","dimensions":["title"],"stat_type":"counter","value_field":"value","rule":"container-exit"}$extra]}}"""
      val rows = if (m.fanOut) 2 else 1
      (pad(s), Expect(Expect.Ok, rows, region, region, Expect.NoFault, rows, tsValid = true, i))
    } else if (r < m.kvmeta + m.cloudwatch + m.ignored) {
      if (rnd.nextBoolean()) {
        val s = header(tsSec, host, appProg(app)) +
          s""" {"level":"info","title":"request_finished","path":"/p/$seed-$i","status":200}"""
        (pad(s), Expect(Expect.Ignored, 0, null, null, Expect.NoFault, 0, tsValid = true, i))
      } else {
        val s = header(tsSec, host, appProg(app)) +
          s""" {"level":"info","title":"page_view","view":"v$seed-$i","_kvmeta":{"team":"web","kv_version":"3.8.2","kv_language":"js","routes":[{"type":"analytics","series":"page-views","rule":"page-views"}]}}"""
        (pad(s), Expect(Expect.Ignored, 0, null, null, Expect.NoFault, 1, tsValid = true, i))
      }
    } else if (r < m.kvmeta + m.cloudwatch + m.ignored + m.global) {
      rnd.nextInt(3) match {
        case 0 => // mongo slow query (global_routes.go:88)
          val op = pick(MongoOps)
          val plan = if (rnd.nextInt(4) == 0) "COLLSCAN" else "IXSCAN { _id: 1 }"
          val s = header(tsSec, s"db-${rnd.nextInt(8)}", s"mongod[${rnd.nextInt(9000) + 1000}]:") +
            s" [conn$i] $op clever.${pick(Collections)} query: { _id: ObjectId('${"%024x".format(i)}') } planSummary: $plan keysExamined:1 docsExamined:1 numYields:0 locks:{}"
          val line = padBefore(s, s" ${100 + rnd.nextInt(5000)}ms")
          val tag = "default"
          (line, Expect(Expect.Ok, 2, tag, null, faultFor(tag), 0, tsValid = true, i))
        case 1 => // rds slow query (global_routes.go:138-151)
          val u = rnd.nextInt(30)
          val s = header(tsSec, "aws-rds", s"production--rds/slowlog[${rnd.nextInt(9000) + 1000}]:") +
            s""" {"user":"app$u[app$u]","query_time":${rnd.nextInt(100) / 10.0},"rows_examined":${rnd.nextInt(10000)},"q":"q$seed-$i"}"""
          (pad(s), Expect(Expect.Ok, 1, "default", null, faultFor("default"), 0, tsValid = true, i))
        case _ => // process-metrics (global_routes.go:40-74)
          val s = header(tsSec, host, appProg(app)) +
            s""" {"via":"process-metrics","source":"app-$app","title":"${pick(ProcTitles)}","type":"gauge","value":${rnd.nextInt(10000) / 100.0},"n":"$seed-$i"}"""
          (pad(s), Expect(Expect.Ok, 1, "default", null, faultFor("default"), 0, tsValid = true, i))
      }
    } else {
      if (rnd.nextBoolean()) { // unparseable header
        val s = s"not-a-timestamp $host garbage line $seed-$i"
        (pad(s), Expect(Expect.Dead, 0, null, null, Expect.NoFault, 0, tsValid = false, i))
      } else { // object-typed dimension value
        val s = header(tsSec, host, appProg(app)) +
          s""" {"title":"bad_dim","district":{"id":"$seed-$i"},"_kvmeta":{"team":"eng-team","kv_version":"3.8.2","kv_language":"js","routes":[{"type":"alerts","series":"oauth.bad","dimensions":["district"],"stat_type":"counter","rule":"bad-dim"}]}}"""
        (pad(s), Expect(Expect.Dead, 0, null, null, Expect.NoFault, 1, tsValid = true, i))
      }
    }
  }
}

object Gen {
  val LineBytes = 1024
  val Shards = 4
  val Regions = IndexedSeq("us-west-1", "us-west-2", "us-east-1", "us-east-2")
  private val Auth = IndexedSeq("password", "google", "clever", "saml")
  private val MongoOps = IndexedSeq("update", "query", "remove", "getmore")
  private val Collections = IndexedSeq("students", "teachers", "sections", "districts")
  private val ProcTitles = IndexedSeq("cpu_usage", "mem_rss", "open_fds")
  private val TsFormat =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSSxxx").withZone(ZoneOffset.UTC)

  /** Generated lines and their expectations, keyed by the consumer's
    * record id (`FastKayvee.recordId`, the declarative `xxhash64(raw)`). */
  final class Book {
    val expect = mutable.LongMap.empty[Expect]
    def add(line: String, e: Expect): Long = {
      val rid = FastKayvee.recordId(line)
      require(!expect.contains(rid), s"record id collision at line ${e.index}")
      expect(rid) = e
      rid
    }
    def size: Int = expect.size
  }

  /** Writes `n` lines round-robin into `shards` shard files under `dir`,
    * stamping line i with `tsOf(i)`. */
  def writeBacklog(dir: java.io.File, gen: Gen, n: Int, book: Book, tsOf: Long => Long, shards: Int = Shards): Unit = {
    dir.mkdirs()
    val outs = (0 until shards).map(s =>
      new java.io.BufferedOutputStream(new java.io.FileOutputStream(new java.io.File(dir, s"shard-$s.txt")), 1 << 20))
    try {
      var i = 0
      while (i < n) {
        val (l, e) = gen.line(tsOf(i.toLong))
        book.add(l, e)
        outs(i % shards).write((l + "\n").getBytes(java.nio.charset.StandardCharsets.US_ASCII))
        i += 1
      }
    } finally outs.foreach(_.close())
  }
}
