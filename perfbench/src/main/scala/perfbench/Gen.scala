package perfbench

import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import scala.util.Random

/** What the generator knows about one record: the values the pipeline must
  * produce from it. Every benchmark answer is checked against these. */
final case class Truth(
    family: String,
    source: String,      // expected post-pipeline `source`
    eventSec: Long,      // expected `utctimestamp`, epoch seconds
    eventName: String,   // CloudTrail `details.eventname`, else ""
    ips: Vector[String], // expected `details._ipaddresses` members
    actor: String,       // GSuite `details.user`, else ""
    loginFailed: Boolean,
    requestId: String,   // CloudTrail `details.requestid`, else ""
    hasKind: Boolean,    // carries a `kind` key, so gsuite_login is dispatched
    poison: Boolean)     // a plugin throws on it

final case class GenRec(json: String, truth: Truth)

/** One landing file. `records` are the records the cascade recovers from it
  * (a malformed file's truncated tail is not one); `replayOf` is the index of
  * the file whose exact bytes this one repeats. */
final case class GenFile(
    name: String,
    bytes: Array[Byte],
    inputBytes: Long,
    records: Vector[Truth],
    recovery: Boolean,
    replayOf: Int)

/** Seeded generator of the five reference event families (FIXTURES.md §A):
  * CloudTrail `Records[]`, CloudFront split `date`/`time`, VPC flow, syslog
  * sudo (pre-shelled) and GSuite login. The same seed gives the same bytes. */
final class Gen(seed: Long) {
  private val rng = new Random(seed)
  private var uidCounter = 0L

  val ipPool: Vector[String] = Vector.tabulate(400) { i =>
    val r = new Random(seed * 31 + i)
    i % 4 match {
      case 0 => s"54.${r.nextInt(256)}.${r.nextInt(256)}.${1 + r.nextInt(254)}"
      case 1 => s"203.0.113.${1 + r.nextInt(254)}"
      case 2 => s"198.51.${r.nextInt(256)}.${1 + r.nextInt(254)}"
      case _ => s"10.${r.nextInt(256)}.${r.nextInt(256)}.${1 + r.nextInt(254)}"
    }
  }.distinct
  val actors: Vector[String] = Vector.tabulate(40)(i => f"user$i%02d@example.com")
  val eventNames: Vector[String] = Vector(
    "DescribeInstances", "GetObject", "PutObject", "ConsoleLogin", "AssumeRole",
    "ListBuckets", "CreateLogStream", "PutLogEvents", "GetCallerIdentity",
    "DescribeSecurityGroups", "RunInstances", "TerminateInstances",
    "AttachRolePolicy", "CreateAccessKey", "DeleteBucket", "UpdateTrail")
  private val words = Vector("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
    "golf", "hotel", "india", "juliet", "kilo", "lima", "mike", "november")
  private val nestKeys = Vector("filterSet", "items", "values", "instanceId", "bucketName",
    "tagSet", "groupId", "roleArn", "policyName", "versionId", "encryption", "maxResults")

  /** Skewed pick: low indexes are drawn far more often (a few hot IPs/actors). */
  private def skewed[A](v: Vector[A]): A = v((math.pow(rng.nextDouble(), 2.5) * v.size).toInt)
  private def uid(): String = {
    uidCounter += 1
    f"${seed & 0xffffff}%06x-${uidCounter}%08x-${rng.nextInt(1 << 30)}%08x"
  }
  private def text(maxLen: Int): String = {
    val n = rng.nextInt(maxLen + 1)
    val sb = new StringBuilder
    while (sb.length < n) sb.append(words(rng.nextInt(words.size))).append(' ')
    sb.toString.take(n)
  }
  private def nested(depth: Int): Any =
    if (depth == 0 || rng.nextInt(3) == 0) {
      rng.nextInt(4) match {
        case 0 => text(40)
        case 1 => rng.nextInt(100000).toLong
        case 2 => rng.nextBoolean()
        case _ => Seq(text(12), text(12))
      }
    } else {
      val n = 1 + rng.nextInt(3)
      Gen.Obj((0 until n).map(i => nestKeys((i * 5 + rng.nextInt(nestKeys.size)) % nestKeys.size) -> nested(depth - 1)).distinctBy(_._1): _*)
    }

  private def iso(sec: Long): String = Gen.isoZ.format(Instant.ofEpochSecond(sec))

  def cloudtrail(sec: Long): GenRec = {
    val name = skewed(eventNames)
    val rid = uid()
    val internal = rng.nextInt(50) == 0 // service caller: sourceIPAddress == userAgent
    val ip = skewed(ipPool)
    val agent = if (internal) "ec2.amazonaws.com" else s"aws-cli/2.${rng.nextInt(20)} Python/3.11"
    val user = skewed(actors).takeWhile(_ != '@')
    val json = Gen.render(Gen.Obj(
      "eventVersion" -> "1.08",
      "userIdentity" -> Gen.Obj(
        "type" -> "AssumedRole",
        "principalId" -> s"AROA${rid.take(8).toUpperCase}:$user",
        "arn" -> s"arn:aws:sts::123456789012:assumed-role/ops/$user",
        "accountId" -> "123456789012",
        "sessionContext" -> Gen.Obj(
          "sessionIssuer" -> Gen.Obj("type" -> "Role", "userName" -> "ops"),
          "attributes" -> Gen.Obj("mfaAuthenticated" -> "false", "creationDate" -> iso(sec - 600)))),
      "eventTime" -> iso(sec),
      "eventSource" -> "ec2.amazonaws.com",
      "eventName" -> name,
      "awsRegion" -> "us-east-1",
      "sourceIPAddress" -> (if (internal) agent else ip),
      "userAgent" -> agent,
      "requestParameters" -> nested(1 + rng.nextInt(3)),
      "responseElements" -> null,
      "requestID" -> rid,
      "eventID" -> uid(),
      "readOnly" -> rng.nextBoolean(),
      "eventType" -> "AwsApiCall",
      "recipientAccountId" -> "123456789012"))
    GenRec(json, Truth("cloudtrail", "cloudtrail", sec, name,
      if (internal) Vector.empty else Vector(ip), "", loginFailed = false, rid,
      hasKind = false, poison = false))
  }

  def cloudfront(sec: Long): GenRec = {
    val ip = skewed(ipPool)
    val dt = LocalDateTime.ofEpochSecond(sec, 0, ZoneOffset.UTC)
    val json = Gen.render(Gen.Obj(
      "date" -> dt.toLocalDate.toString,
      "time" -> Gen.hms.format(dt),
      "x-edge-location" -> "IAD89-C1",
      "sc-bytes" -> (200 + rng.nextInt(50000)).toLong,
      "c-ip" -> ip,
      "cs-method" -> (if (rng.nextInt(5) == 0) "POST" else "GET"),
      "cs(Host)" -> "d111111abcdef8.cloudfront.net",
      "cs-uri-stem" -> s"/wp-${words(rng.nextInt(words.size))}.php",
      "sc-status" -> (if (rng.nextInt(4) == 0) 404L else 200L),
      "cs(Referer)" -> "-",
      "cs(User-Agent)" -> s"Mozilla/5.0 ${text(60)}",
      "cs-uri-query" -> "-",
      "x-edge-request-id" -> uid(),
      "x-forwarded-for" -> "-",
      "time-taken" -> (rng.nextInt(2000) / 1000.0)))
    GenRec(json, Truth("cloudfront", "s3json", sec, "", Vector(ip), "", loginFailed = false, "",
      hasKind = false, poison = false))
  }

  def vpcflow(sec: Long): GenRec = {
    val src = skewed(ipPool)
    val dst = ipPool(rng.nextInt(ipPool.size))
    val json = Gen.render(Gen.Obj(
      "version" -> 2L,
      "account_id" -> "123456789012",
      "interface_id" -> s"eni-${uid()}",
      "srcaddr" -> src,
      "dstaddr" -> dst,
      "srcport" -> rng.nextInt(65536).toLong,
      "dstport" -> (if (rng.nextBoolean()) 443L else rng.nextInt(65536).toLong),
      "protocol" -> 6L,
      "packets" -> (1 + rng.nextInt(500)).toLong,
      "bytes" -> (40 + rng.nextInt(100000)).toLong,
      "start" -> Gen.isoLocal.format(LocalDateTime.ofEpochSecond(sec, 0, ZoneOffset.UTC)),
      "end" -> Gen.isoLocal.format(LocalDateTime.ofEpochSecond(sec + 60, 0, ZoneOffset.UTC)),
      "action" -> (if (rng.nextInt(8) == 0) "REJECT" else "ACCEPT"),
      "log_status" -> "OK"))
    GenRec(json, Truth("vpcflow", "s3json", sec, "", Vector(src, dst).distinct, "", loginFailed = false, "",
      hasKind = false, poison = false))
  }

  def syslog(sec: Long): GenRec = {
    val user = skewed(actors).takeWhile(_ != '@')
    val stamp = Gen.isoSpace.format(LocalDateTime.ofEpochSecond(sec, 0, ZoneOffset.UTC))
    val json = Gen.render(Gen.Obj(
      "category" -> "syslog",
      "severity" -> "INFO",
      "utctimestamp" -> (iso(sec).dropRight(1) + "+00:00"),
      "summary" -> s"sudo: $user : TTY=pts/${rng.nextInt(9)} ; PWD=/home/$user ; USER=root ; COMMAND=/bin/${words(rng.nextInt(words.size))}",
      "source" -> "syslog",
      "tags" -> Seq("sudo"),
      "plugins" -> Seq.empty[String],
      "details" -> Gen.Obj(
        "hostname" -> s"web-${rng.nextInt(40)}",
        "program" -> "sudo",
        "processid" -> rng.nextInt(65000).toString,
        "timestamp" -> stamp,
        "user" -> user,
        "msgid" -> uid())))
    GenRec(json, Truth("syslog", "s3json", sec, "", Vector.empty, "", loginFailed = false, "",
      hasKind = false, poison = false))
  }

  def gsuite(sec: Long): GenRec = {
    val actor = skewed(actors)
    val failed = rng.nextInt(4) == 0
    val ip = skewed(ipPool)
    val json = Gen.render(Gen.Obj(
      "kind" -> "admin#reports#activity",
      "id" -> Gen.Obj(
        "time" -> (iso(sec).dropRight(1) + ".000Z"),
        "uniqueQualifier" -> uid(),
        "applicationName" -> "login",
        "customerId" -> "C03az79cb"),
      "etag" -> s"\"${uid()}\"",
      "actor" -> Gen.Obj("email" -> actor, "profileId" -> s"1${rng.nextInt(1000000)}"),
      "ipAddress" -> ip,
      "events" -> Seq(Gen.Obj(
        "type" -> "login",
        "name" -> (if (failed) "login_failure" else "login_success"),
        "parameters" -> Seq(
          Gen.Obj("name" -> "login_type", "value" -> "google_password"),
          Gen.Obj("name" -> "is_suspicious", "boolValue" -> (rng.nextInt(20) == 0)))))))
    GenRec(json, Truth("gsuite", "gsuite", sec, "", Vector(ip), actor, failed, "",
      hasKind = true, poison = false))
  }

  /** A record event_shell throws on: a non-object `details` beside a key it
    * must move into `details`. */
  def poison(sec: Long): GenRec = {
    val json = Gen.render(Gen.Obj("details" -> s"opaque ${text(30)}", "note" -> uid(), "seen" -> iso(sec)))
    GenRec(json, Truth("poison", "", sec, "", Vector.empty, "", loginFailed = false, "",
      hasKind = false, poison = true))
  }

  /** Family mix for s3json-style landing files and lake flushes. */
  def otherRecord(sec: Long, poisonShare: Double): GenRec =
    if (rng.nextDouble() < poisonShare) poison(sec)
    else rng.nextInt(10) match {
      case 0 | 1 | 2 => cloudfront(sec)
      case 3 | 4 | 5 => vpcflow(sec)
      case 6 | 7 => gsuite(sec)
      case _ => syslog(sec)
    }

  /** Records per file: 1 to 100 (Firehose batches 100), skewed small. */
  def recordsPerFile(): Int = 1 + (math.pow(rng.nextDouble(), 1.6) * 100).toInt

  /** Landing files for the ingest workload: `n` files, a few % exact replays,
    * malformed/concatenated blobs and poison records, a share of `.gz`. */
  def landingFiles(n: Int, baseSec: Long, firstIndex: Int, earlier: IndexedSeq[GenFile]): Vector[GenFile] = {
    val out = Vector.newBuilder[GenFile]
    val all = scala.collection.mutable.ArrayBuffer[GenFile]() ++ earlier
    for (i <- 0 until n) {
      val idx = firstIndex + i
      val f =
        if (all.nonEmpty && rng.nextDouble() < Gen.ReplayShare) {
          val j = rng.nextInt(all.size)
          val o = all(j)
          val name = o.name.replaceFirst("(\\.json(\\.gz)?)$", f"-replay$idx%05d$$1")
          GenFile(name, o.bytes, o.inputBytes, o.records, o.recovery, if (o.replayOf >= 0) o.replayOf else j)
        } else landingFile(idx, baseSec + i)
      all += f
      out += f
    }
    out.result()
  }

  /** The hunt lake's landing objects: per arrival hour and Firehose flush,
    * one CloudTrail `Records[]` object and one s3json array. Volume follows
    * a diurnal curve; a tenth of the events arrive up to 10 min late. */
  def lakeObjects(baseSec: Long, hours: Range, perHour: Int, flushes: Int): Vector[Gen.LakeObject] = {
    val out = Vector.newBuilder[Gen.LakeObject]
    for (h <- hours; f <- 0 until flushes) {
      val diurnal = 0.5 + math.pow(math.sin(math.Pi * (h % 24) / 24.0), 2)
      val n = math.max(2, (perHour * diurnal / flushes * (0.85 + 0.3 * rng.nextDouble())).toInt)
      def sec() = baseSec + h * 3600L + rng.nextInt(3600) - (if (rng.nextInt(10) == 0) rng.nextInt(600) else 0)
      val ct = Vector.fill(math.max(1, n * 35 / 100))(cloudtrail(sec()))
      val other = Vector.fill(math.max(1, n - ct.size))(otherRecord(sec(), 0.0))
      val stampH = Gen.stamp.format(LocalDateTime.ofEpochSecond(baseSec + h * 3600L, 0, ZoneOffset.UTC))
      out += Gen.LakeObject(f"123456789012_CloudTrail_us-east-1_${stampH}_$f%02d.json.gz",
        ct.map(_.json).mkString("{\"Records\":[", ",", "]}"), h, f, ct.map(_.truth))
      out += Gen.LakeObject(f"s3json-$stampH-$f%02d.json",
        other.map(_.json).mkString("[", ",", "]"), h, f, other.map(_.truth))
    }
    out.result()
  }

  private def landingFile(idx: Int, sec: Long): GenFile = {
    val nrec = recordsPerFile()
    if (rng.nextInt(10) < 3) { // CloudTrail: Records[] in a gzipped object
      val recs = Vector.fill(nrec)(cloudtrail(sec))
      val content = recs.map(_.json).mkString("{\"Records\":[", ",", "]}")
      val name = f"123456789012_CloudTrail_us-east-1_${Gen.stamp.format(LocalDateTime.ofEpochSecond(sec, 0, ZoneOffset.UTC))}_$idx%05d.json.gz"
      val raw = content.getBytes("UTF-8")
      GenFile(name, Gen.gzip(raw), raw.length, recs.map(_.truth), recovery = false, -1)
    } else {
      val recs = Vector.fill(nrec)(otherRecord(sec, Gen.PoisonShare))
      val shape = rng.nextDouble()
      val (content, recovered, recovery) =
        if (nrec >= 2 && shape < Gen.MalformedShare) {
          // concatenated blocks with no separator and a truncated tail: the
          // brace scanner recovers every complete block and drops the tail
          (recs.map(_.json).mkString + recs.head.json.take(recs.head.json.length / 2), recs, true)
        } else if (nrec >= 2 && shape < Gen.MalformedShare + Gen.NdjsonShare)
          (recs.map(_.json).mkString("", "\n", "\n"), recs, true)
        else if (nrec == 1) (recs.head.json, recs, false)
        else (recs.map(_.json).mkString("[", ",", "]"), recs, false)
      val gz = rng.nextDouble() < Gen.GzShare
      val raw = content.getBytes("UTF-8")
      val name = f"s3json-$idx%05d.json" + (if (gz) ".gz" else "")
      GenFile(name, if (gz) Gen.gzip(raw) else raw, raw.length,
        recovered.map(_.truth), recovery, -1)
    }
  }
}

object Gen {
  val ReplayShare = 0.03
  val MalformedShare = 0.03
  val NdjsonShare = 0.04
  val PoisonShare = 0.01
  val GzShare = 0.2

  /** One lake landing object and the truth of every record in it. */
  final case class LakeObject(name: String, content: String, hour: Int, flush: Int, truths: Vector[Truth])

  /** An ordered JSON object for the writer below. */
  final case class Obj(fields: (String, Any)*)

  val isoZ: DateTimeFormatter = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'").withZone(ZoneOffset.UTC)
  val isoLocal: DateTimeFormatter = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
  val isoSpace: DateTimeFormatter = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  val hms: DateTimeFormatter = DateTimeFormatter.ofPattern("HH:mm:ss")
  val stamp: DateTimeFormatter = DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmm'Z'")

  def render(v: Any): String = { val sb = new StringBuilder; write(v, sb); sb.toString }

  private def write(v: Any, sb: StringBuilder): Unit = v match {
    case null => sb.append("null")
    case s: String => quote(s, sb)
    case b: Boolean => sb.append(b)
    case l: Long => sb.append(l)
    case i: Int => sb.append(i)
    case d: Double => sb.append(d)
    case o: Obj =>
      sb.append('{')
      o.fields.zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) sb.append(',')
        quote(k, sb); sb.append(':'); write(x, sb)
      }
      sb.append('}')
    case s: Seq[_] =>
      sb.append('[')
      s.zipWithIndex.foreach { case (x, i) => if (i > 0) sb.append(','); write(x, sb) }
      sb.append(']')
    case other => throw new IllegalArgumentException(s"unsupported JSON value $other")
  }

  private def quote(s: String, sb: StringBuilder): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c => sb.append(c)
    }
    sb.append('"')
  }

  def gzip(raw: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos) // header mtime is always 0
    gz.write(raw)
    gz.close()
    bos.toByteArray
  }
}
