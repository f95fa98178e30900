package graft.perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.types._

import graft.streaming.{EventSchemas, ProtoWire}

/** One generated event: its subject, target table, and values positional
  * over the table's wire schema (timestamp as epoch seconds). */
final case class Ev(seq: Long, subject: String, table: String,
                    values: Array[Any]) {
  private def schema = EventSchemas.tables(table)
  def get(name: String): Any = values(schema.fieldIndex(name))
  def str(name: String): String = get(name).asInstanceOf[String]
  def ts: Long = get("timestamp").asInstanceOf[Long]
  def id: String = str("event_id")
  def day: Int = Gen.dayOf(ts)
}

/** Zipf(s) sampler over ranks 0..n-1 by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val tot = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / tot }
  }
  def sample(r: SplittableRandom): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** Seeded event generator. Users and items are Zipf-skewed, timestamps
  * span [[Gen.Days]] UTC dates, and the subject mix is skewed so watch
  * events dominate. Watch events come in per-user viewing sessions
  * (play → progress… → complete), which gives the funnel and timeline
  * templates real structure. Everything derives from the seed. */
final class EventGen(seed: Long, users: Int = 3000, items: Int = 400,
                     subjects: Seq[String] = Gen.subjectsByWeight.map(_._1),
                     idPrefix: String = "e") {
  private val r = new SplittableRandom(seed)
  private val userZ = new Zipf(users, 1.1)
  private val itemZ = new Zipf(items, 1.2)
  private val weights = Gen.subjectsByWeight.filter(w => subjects.contains(w._1))
  private val wTotal = weights.map(_._2).sum
  private var seq = 0L
  private val pending = scala.collection.mutable.Queue.empty[Ev]

  private def pick[T](xs: IndexedSeq[T]): T = xs(r.nextInt(xs.size))

  private def subject(): String = {
    var u = r.nextDouble() * wTotal
    weights.find { case (_, w) => u -= w; u < 0 }.getOrElse(weights.last)._1
  }

  def next(): Ev = {
    if (pending.isEmpty) {
      val subj = subject()
      val user = userZ.sample(r)
      val t0 = Gen.Base + r.nextLong(Gen.Days * 86400L)
      if (subj == "events.angulak.watch") {
        val item = itemZ.sample(r)
        val steps = 1 + r.nextInt(5)
        var t = t0
        (0 until steps).foreach { k =>
          val name = if (k == 0) "play" else if (k == steps - 1 && r.nextInt(3) > 0) "complete" else "progress"
          pending += make(subj, user, item, t, name)
          t += 20 + r.nextInt(1200)
        }
      } else pending += make(subj, user, itemZ.sample(r), t0, "")
    }
    pending.dequeue()
  }

  private def make(subj: String, user: Int, item: Int, ts: Long,
                   watchName: String): Ev = {
    val table = EventSchemas.routes(subj)
    val schema = EventSchemas.tables(table)
    val id = f"$idPrefix$seq%010d"
    seq += 1
    val platform = Gen.platforms(user % Gen.platforms.size)
    val duration = 600 + (item * 37) % 5400
    val name = subj match {
      case "events.angulak.watch" => watchName
      case "events.login" => if (r.nextInt(10) == 0) "login_failed" else "login"
      case "events.session" => pick(Vector("session_start", "session_end"))
      case "events.angulak.like" => "like"
      case "events.angulak.comment" => "comment"
      case "events.angulak.bookmark" => "bookmark"
      case "events.shahrefarang.item" => "item_view"
      case "events.shahrefarang.play_info" => "play_info_view"
      case _ => "profile_update"
    }
    val values = schema.fields.map { f =>
      f.name match {
        case "event_id" => id
        case "event_name" => name
        case "user_id" => f"u$user%05d"
        case "session_id" => s"s$user-${Gen.dayOf(ts)}"
        case "anonymous_id" => if (r.nextInt(4) == 0) "" else s"a${r.nextInt(1 << 20)}"
        case "timestamp" => ts
        case "service_origin" => pick(Vector("web-api", "mobile-api"))
        case "platform" => platform
        case "platform_version" => pick(Vector("1.4.0", "1.5.2", "2.0.1"))
        case "os_name" => Gen.osFor(platform)
        case "os_version" => pick(Vector("10", "11", "12", "13", "14"))
        case "browser_name" => if (platform == "web") pick(Vector("chrome", "firefox", "safari")) else ""
        case "browser_version" => if (platform == "web") s"${100 + r.nextInt(30)}.0" else ""
        case "device_type" => pick(Vector("desktop", "mobile", "tablet", "tv"))
        case "screen_resolution" => pick(Vector("1920x1080", "1366x768", "390x844", "412x915"))
        case "user_agent" => s"Mozilla/5.0 ($platform; graft-bench) AppleWebKit/537.36"
        case "profile_id" => s"p$user"
        case "is_new_user" => r.nextInt(8) == 0
        case "play_info_id" => s"pi$item"
        case "action" => if (r.nextInt(5) == 0) "remove" else "add"
        case "state" => name match { case "play" => "playing"; case "complete" => "ended"; case _ => "paused" }
        case "item_type" => Gen.itemTypes(item % Gen.itemTypes.size)
        case "item_id" => f"i$item%04d"
        case "season_number" => if (item % 3 == 1) 1 + item % 5 else 0
        case "episode_number" => if (item % 3 == 1) 1 + r.nextInt(12) else 0
        case "subtitle_language" => pick(Vector("fa", "en", ""))
        case "audio_language" => pick(Vector("fa", "en"))
        case "video_position" => r.nextInt(duration)
        case "video_duration" => duration
        case "player_version" => pick(Vector("3.1", "3.2"))
        case "internet_connection_type" => pick(Vector("wifi", "4g", "5g"))
        case "region" => pick(Vector("teh", "isf", "shz", "mhd", "tbz"))
        case "ad_id" => if (r.nextInt(6) == 0) s"ad${r.nextInt(50)}" else ""
        case "ad_type" => if (r.nextInt(6) == 0) "preroll" else ""
        case "event_details" =>
          s"""{"cdn":"${Gen.cdns(r.nextInt(Gen.cdns.size))}","bitrate":${500 + r.nextInt(7500)}}"""
        case "is_ended" => name == "session_end"
        case "age_rating" => Vector(0, 7, 12, 15, 18)(item % 5)
        case "is_dubbed" | "is_exclusive" | "has_subtitle" => r.nextBoolean()
        case "genres" => Seq(Gen.genres(item % Gen.genres.size), Gen.genres((item / 7) % Gen.genres.size)).distinct
        case "labels" => if (r.nextBoolean()) Seq("new") else Seq.empty
        case "languages" => Seq("fa") ++ (if (r.nextBoolean()) Seq("en") else Nil)
        case "categories" => Seq(Gen.itemTypes(item % Gen.itemTypes.size))
        case "reach_method" => pick(Vector("search", "home", "push", "related"))
        case "duration" => duration
        case other => f.dataType match {
          case StringType => s"$other-${r.nextInt(100)}"
          case IntegerType => r.nextInt(100)
          case BooleanType => r.nextBoolean()
          case _ => throw new IllegalStateException(s"no generator for field $other")
        }
      }
    }
    Ev(seq - 1, subj, table, values.toArray[Any])
  }
}

object Gen {
  /** 2024-03-04T00:00:00Z; generated event times span [[Days]] dates. */
  val Base: Long = 1709510400L
  val Days: Int = 4

  /** Events as one varint-framed proto3 stream — a flush file's bytes and
    * an `INSERT … FORMAT Protobuf` body alike. */
  def frames(evs: Seq[Ev]): Array[Byte] = {
    val buf = new java.io.ByteArrayOutputStream()
    evs.foreach(e => ProtoWire.writeFrame(buf,
      ProtoWire.encode(e.values.toSeq, EventSchemas.tables(e.table))))
    buf.toByteArray
  }

  def dayOf(ts: Long): Int = ((ts - Base) / 86400L).toInt
  def dateStr(day: Int): String =
    java.time.LocalDate.ofEpochDay(Base / 86400L + day).toString
  private val tsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
  def tsStr(ts: Long): String = tsFmt.format(java.time.Instant.ofEpochSecond(ts))

  /** A fixed interleaving of names by integer weight (smooth weighted
    * round robin): every window of the cycle carries the same mix, so the
    * load shape does not depend on the seed. One cycle has Σ weights slots. */
  def cycle(weights0: Seq[(String, Int)]): IndexedSeq[String] = {
    val g = weights0.map(_._2).reduce((a, b) => BigInt(a).gcd(BigInt(b)).toInt)
    val weights = weights0.map { case (n, w) => n -> w / g }
    val cur = Array.fill(weights.size)(0)
    val total = weights.map(_._2).sum
    (0 until total).map { _ =>
      weights.indices.foreach(i => cur(i) += weights(i)._2)
      val best = cur.indices.maxBy(i => (cur(i), -i))
      cur(best) -= total
      weights(best)._1
    }
  }

  /** Subject mix: watch events dominate. */
  val subjectsByWeight: Seq[(String, Double)] = Seq(
    "events.angulak.watch" -> 0.40, "events.login" -> 0.12,
    "events.session" -> 0.12, "events.angulak.like" -> 0.07,
    "events.angulak.comment" -> 0.05, "events.angulak.bookmark" -> 0.05,
    "events.shahrefarang.item" -> 0.08, "events.shahrefarang.play_info" -> 0.07,
    "events.sabte_ahval" -> 0.04)

  val platforms = Vector("web", "android", "ios")
  def osFor(p: String): String = p match {
    case "web" => "Linux"; case "android" => "Android"; case _ => "iOS"
  }
  val itemTypes = Vector("movie", "series", "clip")
  val cdns = Vector("arvan", "cdn77", "local", "mirror")
  val genres = Vector("drama", "comedy", "action", "family", "doc", "anime")

  /** Planted curation corpus: `families` near-duplicate families of 3-6
    * documents (one template text, members either exact copies or the
    * template with one word replaced), `singletons` unique documents and
    * `spam` low-quality documents (few distinct words). Doc ids are a
    * seeded permutation. Returns rows (doc_id, text) plus the planted
    * family of every doc (-1 for singletons and spam). */
  final case class Doc(docId: Long, text: String, family: Int, spam: Boolean)

  def corpus(seed: Long, families: Int, singletons: Int, spam: Int,
             words: Int = 120): Seq[Doc] = {
    val r = new SplittableRandom(seed ^ 0x5eedL)
    // a template is `words` distinct words from a large vocabulary, so two
    // templates share almost no bigrams (expected ~1e-4 per pair)
    val vocab = 20000
    def template(): Array[String] = {
      val picked = scala.collection.mutable.LinkedHashSet.empty[Int]
      while (picked.size < words) picked += r.nextInt(vocab)
      picked.toArray.map(w => s"w$w")
    }
    val texts = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Boolean)]
    (0 until families).foreach { f =>
      val t = template()
      val size = 3 + r.nextInt(4)
      texts += ((t.mkString(" "), f, false))
      (1 until size).foreach { _ =>
        val m = t.clone()
        if (r.nextInt(4) != 0) m(r.nextInt(words)) = s"x${r.nextInt(1 << 30)}"
        texts += ((m.mkString(" "), f, false))
      }
    }
    (0 until singletons).foreach { k =>
      texts += ((template().mkString(" "), -1, false))
    }
    (0 until spam).foreach { k =>
      val few = Array.tabulate(4)(i => s"spam${k}_$i")
      texts += ((Array.tabulate(words)(i => few(i % 4)).mkString(" "), -1, true))
    }
    val ids = (0L until texts.size.toLong).toArray
    var i = ids.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t; i -= 1
    }
    texts.zipWithIndex.map { case ((t, f, sp), k) => Doc(ids(k), t, f, sp) }
      .sortBy(_.docId).toSeq
  }

  /** Seeded embedding clusters: `clusters` centroids with ±1.5 signs on
    * the first 16 dimensions plus small per-vector noise. */
  def embeddings(seed: Long, n: Int, dims: Int, clusters: Int)
      : Seq[(Long, Array[Float], Int)] = {
    val r = new SplittableRandom(seed ^ 0xe3bL)
    val centers = Array.fill(clusters)(Array.tabulate(dims)(i =>
      if (i < 16) (if (r.nextBoolean()) 1.5f else -1.5f) else 0f))
    (0 until n).map { v =>
      val c = r.nextInt(clusters)
      (v.toLong, Array.tabulate(dims)(i =>
        centers(c)(i) + ((r.nextDouble() - 0.5) * 0.8).toFloat), c)
    }
  }
}
