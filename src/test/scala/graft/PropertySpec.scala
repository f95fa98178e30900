package graft

import graft.streaming.{EventSchemas, Ingest, ProtoWire}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based laws (SURVEY §5.3): dedup idempotence, batching
  * invariance (any micro-batch split yields the same final table —
  * mirrors the reference's at-least-once batcher, src/handler.rs:140-163),
  * and protobuf wire round-trip over generated events. */
class PropertySpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  /** Deterministic stand-in for forAll: sample `gen` across fixed seeds. */
  private def forSeeds[T](gen: Gen[T], n: Int)(body: T => Unit): Unit =
    (1 to n).foreach { i =>
      body(gen.apply(Gen.Parameters.default, Seed(i.toLong))
        .getOrElse(fail(s"gen failed for seed $i")))
    }

  private val loginSchema = EventSchemas.tables("login_events")

  private val eventGen: Gen[Seq[Any]] = for {
    id <- Gen.alphaNumStr.suchThat(_.nonEmpty).map(_.take(12))
    user <- Gen.choose(1, 50)
    ts <- Gen.choose(1726300800L, 1726400000L)
    platform <- Gen.oneOf("android", "ios", "web", "")
    res <- Gen.oneOf("1920x1080", "1080x2400", "")
  } yield Seq(s"e-$id", "login", s"u-$user", "s-1", "a-1", ts, "web",
    platform, "14", "android", "14", "chrome", "128", "mobile", res, "UA")

  test("protobuf wire round-trip is lossless for generated events") {
    forSeeds(Gen.listOfN(20, eventGen), 10) { events =>
      events.foreach { v =>
        val json = ProtoWire.decodeToJson(ProtoWire.encode(v, loginSchema), loginSchema)
        val row = spark.range(1)
          .select(from_json(lit(json), loginSchema).as("d")).select("d.*").head()
        // proto3 defaults: "" encodes to nothing and decodes to null;
        // non-defaults round-trip exactly.
        loginSchema.fields.zipWithIndex.foreach { case (f, i) =>
          val expected = v(i) match {
            case "" => null
            case x  => x
          }
          assert(row.get(i) == expected, s"field ${f.name}: ${row.get(i)} != $expected")
        }
      }
    }
  }

  test("batching invariance: any split into micro-batches yields the same table") {
    import org.apache.spark.sql.Row
    val base = java.nio.file.Files.createTempDirectory("prop").toString
    val rows = (1 to 40).map(i => Row.fromSeq(
      streaming.WireFixtures.loginMsg(s"e-$i", s"u-${i % 7}", 1726300800L + i)))
    def df(chunk: Seq[Row]) =
      spark.createDataFrame(spark.sparkContext.parallelize(chunk), loginSchema)
    // split A: one batch; split B: 4 uneven batches
    val outA = s"$base/outA"; val outB = s"$base/outB"
    Ingest.writeTyped(df(rows), "login_events", loginSchema, outA, batchId = 0L)
    Seq(rows.take(3), rows.slice(3, 17), rows.slice(17, 18), rows.drop(18))
      .zipWithIndex.foreach { case (chunk, b) =>
        Ingest.writeTyped(df(chunk), "login_events", loginSchema, outB, b.toLong)
      }
    val a = spark.read.parquet(s"$outA/login_events")
      .select("event_id", "user_id", "timestamp").collect().map(_.toString).sorted
    val b = spark.read.parquet(s"$outB/login_events")
      .select("event_id", "user_id", "timestamp").collect().map(_.toString).sorted
    assert(a.length == 40)
    assert(a.sameElements(b), "content must be independent of micro-batch boundaries")
  }

  test("dedup idempotence and order-insensitivity over random duplicates") {
    import spark.implicits._
    forSeeds(Gen.listOfN(60, Gen.choose(1, 20)), 5) { ids =>
      val df = ids.zipWithIndex
        .map { case (id, i) => (s"e-$id", 1726300800L + i) }
        .toDF("event_id", "ts")
      val d1 = df.dropDuplicates(Seq("event_id"))
      assert(d1.count() == ids.distinct.size)
      assert(d1.dropDuplicates(Seq("event_id")).count() == d1.count())
      // shuffled input produces the same key set
      val d2 = df.orderBy(rand(42)).dropDuplicates(Seq("event_id"))
      assert(d2.select("event_id").collect().map(_.getString(0)).sorted
        .sameElements(d1.select("event_id").collect().map(_.getString(0)).sorted))
    }
  }

  test("packing laws: capacity, greedy-minimality, input-order invariance") {
    import spark.implicits._
    forSeeds(Gen.listOfN(80, Gen.choose(1, 140)), 5) { sizes =>
      // doc_id dense from 0; tokens = ceil(n_chars/4) = sizes, spanning
      // undersize through singleton-oversize (up to 140 vs capacity 35)
      val docs = sizes.zipWithIndex
        .map { case (s, i) => (i.toLong, s.toLong * 4) }
        .toDF("doc_id", "n_chars")
      val packed = graft.pipeline.Packing
        .packSequences(docs, capacity = 35, buckets = 4).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      assert(packed.length == sizes.length)
      packed.groupBy(p => (p._2, p._3)).foreach { case ((b, s), rs) =>
        val total = rs.map(_._4).sum
        // capacity law: a multi-doc sequence never exceeds the budget;
        // only a singleton may (the oversize doc gets its own sequence)
        if (rs.length > 1) assert(total <= 35, s"bucket $b seq $s over budget")
        // fill law: the last row's seq_fill is the sequence total
        assert(rs.maxBy(_._1)._5 == total)
      }
      // greedy-minimality: a new sequence opens only when the previous
      // could not fit the doc that opened it
      packed.groupBy(_._2).foreach { case (_, rs) =>
        val byDoc = rs.sortBy(_._1)
        byDoc.zip(byDoc.tail).foreach { case (prev, cur) =>
          if (cur._3 != prev._3)
            assert(prev._5 + cur._4 > 35,
              s"doc ${cur._1} opened seq ${cur._3} though it fit in ${prev._3}")
        }
      }
      // determinism: shuffled input packs identically (the fold sorts)
      val shuffled = graft.pipeline.Packing
        .packSequences(docs.orderBy(rand(7)), capacity = 35, buckets = 4)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      assert(shuffled.sortBy(_._1).sameElements(packed.sortBy(_._1)),
        "packing must not depend on input order/partitioning")
    }
  }

  test("minhash band-key laws: a function of the bigram set; identical texts collide") {
    import spark.implicits._
    import graft.pipeline.TextDedup
    val wordGen = Gen.choose(0, 25).map(i => s"w$i")
    val textGen = Gen.listOfN(12, wordGen).map(_.mkString(" "))
    // a word cycle c1..ck (distinct words) has bigram set
    // {c1 c2, …, ck c1} however many times it repeats — two texts that
    // walk the cycle to different lengths share it exactly
    val cycleGen = Gen.choose(2, 6).flatMap(k =>
      Gen.pick(k, (0 until 26).map(i => s"w$i")).map(_.toSeq))
    forSeeds(Gen.zip(Gen.listOfN(8, textGen), cycleGen,
        Gen.choose(0, 5), Gen.choose(0, 5)), 5) { case (texts, cyc, ra, rb) =>
      def walk(extra: Int) = Iterator.continually(cyc).flatten
        .take(cyc.size + 1 + extra).mkString(" ")
      // doc 2i and 2i+1 carry the same text; the last two walk the cycle
      val docs = texts.flatMap(t => Seq(t, t)) ++ Seq(walk(ra), walk(rb))
      val sp = TextDedup.signaturePlan(
        docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"),
        nBands = 4, rowsPerBand = 2)
      val keys = sp.bands.as[(Long, Int, String)].collect()
        .groupBy(_._1).map { case (id, rs) => id -> rs.map(r => r._2 -> r._3).toMap }
      sp.caches.foreach(_.unpersist())
      assert(keys.size == docs.size && keys.values.forall(_.size == 4))
      texts.indices.foreach { i =>
        assert(keys(2L * i) == keys(2L * i + 1),
          s"identical texts must get identical band keys: ${texts(i)}")
      }
      val (a, b) = (docs.size - 2L, docs.size - 1L)
      assert(keys(a) == keys(b),
        s"band keys must be a function of the bigram set only: " +
          s"'${docs(a.toInt)}' vs '${docs(b.toInt)}'")
    }
  }

  test("ddsketch law: merge of any partition == whole; quantile within alpha") {
    import graft.functions.DDSketch
    val valGen = Gen.listOfN(400, Gen.choose(1, 1000000).map(_ / 100.0))
    forSeeds(valGen, 8) { xs =>
      val whole = new DDSketch.State(0.02)
      xs.foreach(whole.insert)
      // random 3-way partition (derived from the values, deterministic)
      val parts = xs.zipWithIndex.groupBy(_._2 % 3).values.map { chunk =>
        val st = new DDSketch.State(0.02); chunk.foreach(c => st.insert(c._1)); st
      }
      val acc = new DDSketch.State(Double.NaN)
      parts.foreach(acc.mergeFrom)
      assert(DDSketch.serialize(acc).sameElements(DDSketch.serialize(whole)))
      for (q <- Seq(0.1, 0.5, 0.9)) {
        val exact = xs.sorted.apply(math.max(0, math.ceil(q * xs.size).toInt - 1))
        val est = DDSketch.binValue(DDSketch.quantileBin(whole, q).asInstanceOf[Int], 0.02)
        assert(math.abs(est - exact) / exact <= 0.02 + 1e-9, s"q=$q $est vs $exact")
      }
    }
  }

  test("topk law: below-capacity merges byte-equal and exact for any split") {
    import graft.functions.TopKSketch
    import org.apache.spark.unsafe.types.UTF8String
    val streamGen = Gen.listOfN(300, Gen.choose(1, 30).map(i => s"k$i"))
    forSeeds(streamGen, 8) { xs =>
      val whole = new TopKSketch.State(64)
      xs.foreach(x => whole.insert(UTF8String.fromString(x)))
      val acc = new TopKSketch.State(0)
      xs.grouped(71).foreach { c =>
        val p = new TopKSketch.State(64)
        c.foreach(x => p.insert(UTF8String.fromString(x)))
        acc.mergeFrom(p)
      }
      assert(TopKSketch.serialize(acc).sameElements(TopKSketch.serialize(whole)))
      val truth = xs.groupBy(identity).view.mapValues(_.size.toLong).toMap
      TopKSketch.sortedEntries(whole).foreach { case (v, est, err) =>
        assert(err == 0L && est == truth(v.toString))
      }
    }
  }

  test("span scrub law: equals an independent in-memory oracle on random corpora") {
    import spark.implicits._
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    val docGen: Gen[String] = for {
      n <- Gen.choose(0, 14)
      ws <- Gen.listOfN(n, Gen.oneOf(vocab))
    } yield ws.mkString(" ")
    forSeeds(Gen.listOfN(12, docGen), 8) { texts0 =>
      // every 3rd doc gets a fixed 6-word prefix so cross-doc grams are
      // guaranteed (random small-vocab collisions add more variety)
      val texts = texts0.zipWithIndex.map { case (t, i) =>
        if (i % 3 == 0) ("aa bb cc dd ee ff " + t).trim else t
      }
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val wordSeqs = docs.map { case (id, t) =>
        id -> t.toLowerCase.split(" ", -1).toVector
      }.toMap
      val grams = docs.flatMap { case (id, _) =>
        val w = wordSeqs(id)
        if (w.length >= 5)
          (0 to w.length - 5).map(i => (w.slice(i, i + 5).mkString(" "), id, i + 1))
        else Nil
      }
      val dup = grams.groupBy(_._1).filter(_._2.map(_._2).distinct.size >= 2).keySet
      val expected = docs.map { case (id, _) =>
        val w = wordSeqs(id)
        val starts = grams.collect { case (g, d, i) if d == id && dup(g) => i }
        val kept = (1 to w.length)
          .filterNot(j => starts.exists(p => p <= j && j <= p + 4))
        (id, w.length, kept.length, kept.map(i => w(i - 1)).mkString(" "))
      }
      val got = pipeline.TextDedup.spanScrub(docs.toDF("doc_id", "text"))
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
      assert(got.sameElements(expected))
    }
  }

  test("shard manifest law: shards PARTITION the corpus; envelope matches md5 oracle") {
    import spark.implicits._
    val docGen: Gen[(String, Long)] = for {
      n <- Gen.choose(1, 10)
      ws <- Gen.listOfN(n, Gen.oneOf("tok1", "tok2", "tok3", "tok4"))
    } yield (ws.mkString(" "), ws.mkString(" ").length.toLong)
    forSeeds(Gen.listOfN(40, docGen), 6) { rows =>
      val docs = rows.zipWithIndex.map { case ((t, nc), i) => (i.toLong, t, nc) }
      val df = docs.toDF("doc_id", "text", "n_chars")
      val got = pipeline.Shards.manifest(df, 1).orderBy("shard_id").collect()
      def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val byShard = docs.groupBy { case (id, _, _) => md5hex(id.toString).substring(0, 1) }
      assert(got.map(_.getLong(1)).sum == docs.length, "n_docs partitions the corpus")
      got.foreach { r =>
        val sh = byShard(r.getString(0))
        assert(r.getLong(1) == sh.length)
        assert(r.getLong(2) == sh.map(_._2.split(" ", -1).length.toLong).sum)
        assert(r.getLong(3) == sh.map(_._3).sum)
        val fps = sh.map { case (_, t, _) => md5hex(t.toLowerCase) }
        assert(r.getString(4) == fps.min && r.getString(5) == fps.max)
      }
    }
  }

  test("contamination score law: equals the distinct gram-set intersection") {
    import spark.implicits._
    val vocab = Vector("q1", "q2", "q3", "q4", "q5", "q6")
    val docGen: Gen[String] = for {
      n <- Gen.choose(3, 12)
      ws <- Gen.listOfN(n, Gen.oneOf(vocab))
    } yield ws.mkString(" ")
    def grams5(t: String): Set[String] =
      t.toLowerCase.split(" ", -1).toSeq.sliding(5)
        .filter(_.length == 5).map(_.mkString(" ")).toSet
    forSeeds(Gen.zip(Gen.listOfN(6, docGen), Gen.listOfN(10, docGen)), 6) {
      case (benchTexts, corpusTexts) =>
        val benchGrams = benchTexts.flatMap(grams5).toSet
        val bench = benchGrams.toSeq.toDF("g")
        val (bf1, bf2) = pipeline.Curation.bloomPair(bench)
        val got = corpusTexts.zipWithIndex
          .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
          .select(col("doc_id"),
            pipeline.Curation.contaminationScore(col("text"), bf1, bf2).as("s"))
          .orderBy("doc_id").collect().map(_.getInt(1))
        val expected = corpusTexts.map(t => grams5(t).intersect(benchGrams).size)
        assert(got.sameElements(expected))
    }
  }
}
