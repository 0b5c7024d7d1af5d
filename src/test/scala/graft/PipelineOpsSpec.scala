package graft

import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.sources.Dirs
import graft.similarity.Ann
import graft.streaming.EventStreams
import graft.text.TextAnalysis

/** Unit semantics for the training-data-pipeline operators: dedup family,
  * ANN, text analysis, multimodal plumbing, streaming.
  */
class PipelineOpsSpec extends SparkSpec {
  import org.apache.spark.sql.Row

  private lazy val nearDups = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy cat again and again"),
      (3L, "completely different content about spark catalyst optimizer rules"),
      (4L, "the quick brown fox jumps over the lazy dog again and again"),
      (5L, "unrelated short text")
    ).toDF("doc_id", "text")
  }

  test("exact dedup keeps min id per content group") {
    val groups = Dedup.exactGroups(nearDups, "doc_id", "text").collect()
    val dupGroup = groups.find(_.getLong(2) == 2)
    assert(dupGroup.isDefined && dupGroup.get.getLong(1) == 1L)
    assert(Dedup.dropExactDups(nearDups, "doc_id", "text").count() == 4)
  }

  test("ngram jaccard finds the near-dup pair, not the unrelated doc") {
    val pairs = Dedup.jaccardPairs(nearDups, "doc_id", "text",
        n = 3, threshold = 0.5, maxShingleFreq = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"expected (1,2) in $pairs")
    assert(pairs.contains((1L, 4L)) && pairs.contains((2L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("connected components: chains collapse to min id, blocks self-free") {
    import spark.implicits._
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // clique {1,2,3} given as a chain, pair {10,11}, long path {20..25}
    // (forces several propagation rounds), cycle {30,31,32}
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L),
      (20L, 21L), (21L, 22L), (22L, 23L), (23L, 24L), (24L, 25L),
      (30L, 31L), (31L, 32L), (32L, 30L)).toDF("id1", "id2")
    val comp = Dedup.connectedComponents(pairs, "id1", "id2")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L, 24L -> 20L, 25L -> 20L,
      30L -> 30L, 31L -> 30L, 32L -> 30L))
    // only the final labels stay materialized; everything per-round is freed
    val leftover = sc.getPersistentRDDs.keySet -- before
    assert(leftover.size <= 1, s"operator leaked blocks: $leftover")
    val reg = sc.getPersistentRDDs
    leftover.foreach(id => reg.get(id).foreach(_.unpersist(blocking = true)))
    // a too-small iteration budget must fail loudly, not return wrong labels
    intercept[IllegalStateException] {
      Dedup.connectedComponents(pairs, "id1", "id2", maxIter = 1).collect()
    }
    val reg2 = sc.getPersistentRDDs
    (reg2.keySet -- before).foreach(id =>
      reg2.get(id).foreach(_.unpersist(blocking = true)))
  }

  test("hash split: deterministic, complete, roughly 80/10/10") {
    val ids = spark.range(10000).toDF("doc_id")
    val s1 = TextAnalysis.withSplit(ids, "doc_id")
    val s2 = TextAnalysis.withSplit(ids.repartition(7), "doc_id")
    // membership is content-addressed: identical under repartitioning
    assert(s1.select("doc_id", "split").exceptAll(
      s2.select("doc_id", "split")).isEmpty)
    val frac = s1.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1) / 10000.0).toMap
    assert(math.abs(frac("train") - 0.8) < 0.02, s"train=${frac("train")}")
    assert(math.abs(frac("val") - 0.1) < 0.02)
    assert(math.abs(frac("test") - 0.1) < 0.02)
  }

  test("stratified sample honors per-stratum rates") {
    import spark.implicits._
    val docs = spark.range(4000)
      .select(col("id").as("doc_id"),
        when(col("id") % 2 === 0, "en").otherwise("de").as("lang"))
    val none = TextAnalysis.stratifiedSample(docs, "doc_id", "lang",
      Map("en" -> 0), 0)
    assert(none.count() == 0)
    val all = TextAnalysis.stratifiedSample(docs, "doc_id", "lang",
      Map("en" -> 1000), 1000)
    assert(all.count() == 4000)
    val mixed = TextAnalysis.stratifiedSample(docs, "doc_id", "lang",
      Map("en" -> 100), 1000)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mixed("de") == 2000L, "default rate 1000 keeps every de doc")
    assert(mixed("en") < 400, s"en downsampled to ~10%, got ${mixed("en")}")
  }

  test("tf-idf: the distinguishing term outranks corpus-wide terms") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma epsilon"),
      (3L, "alpha beta gamma zeta")
    ).toDF("doc_id", "text")
    val top = TextAnalysis.tfIdfTopTerms(corpus, "doc_id", "text", k = 1)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(top == Map(1L -> "delta", 2L -> "epsilon", 3L -> "zeta"))
  }

  test("connected components: a 200-node path converges via path halving") {
    import spark.implicits._
    val chain = (0 until 200).map(i => (i.toLong, i.toLong + 1)).toDF("id1", "id2")
    val comp = Dedup.connectedComponents(chain, "id1", "id2")
    assert(comp.select(countDistinct("comp")).head().getLong(0) == 1L)
    assert(comp.agg(max("comp")).head().getLong(0) == 0L)
    val sc = spark.sparkContext
    val reg = sc.getPersistentRDDs
    reg.values.foreach(_.unpersist(blocking = true))
  }

  test("pmi: an exclusive bigram outranks promiscuous pairs") {
    import spark.implicits._
    // "san" and "francisco" occur ONLY in their bigram; every other
    // bigram shares a word with higher marginal count ("is" ×3, "and" ×2
    // per doc), so (san, francisco) has the strictly largest PMI
    val docs = (1 to 10).map(i =>
      (i.toLong, "san francisco is nice and is fun and is cool")).toDF("doc_id", "text")
    val top = TextAnalysis.pmiCollocations(docs, "doc_id", "text",
      minCount = 5, k = 3).collect()
    assert(top.head.getString(0) == "san" && top.head.getString(1) == "francisco",
      s"expected (san, francisco) first, got ${top.head}")
  }

  test("pii scrub: counts hit the planted pii, redaction order holds") {
    import spark.implicits._
    val doc = Seq((1L,
      "mail a.b@x.io, see https://x.io/a?n=1234567890 or call +1 415-555-0101"
    )).toDF("doc_id", "text")
    val row = TextAnalysis.withPiiSignals(doc)
      .select(col("n_emails"), col("n_urls"), col("n_phones"),
        TextAnalysis.scrubPii(col("text")).as("scrubbed"))
      .head()
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) == ((1L, 1L, 1L)))
    assert(row.getString(3) ==
      "mail [EMAIL], see [URL] or call [PHONE]",
      s"got: ${row.getString(3)}")
  }

  test("minhash LSH agrees with exact jaccard on recalled pairs") {
    val exact = Dedup.jaccardPairs(nearDups, "doc_id", "text",
        n = 3, threshold = 0.5, maxShingleFreq = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Dedup.minHashLshPairs(nearDups, "doc_id", "text",
        n = 3, numPerm = 32, bands = 8, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(lsh.contains((1L, 4L)), "identical docs must always collide")
    lsh.foreach { case (p, j) =>
      assert(math.abs(exact(p) - j) < 1e-12, s"jaccard mismatch at $p")
    }
  }

  test("simhash: identical docs hamming 0, near-dups small, distinct large") {
    val sig = Dedup.simHash(nearDups, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(1L) == sig(4L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sig(1L), sig(2L)) < ham(sig(1L), sig(3L)))
  }

  test("curation pipeline prunes planted dups and self-frees its blocks") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val docs = spark.read.parquet(s"$sfCorrect/documents.parquet")
    // plant exact dups: a full shifted copy of the corpus
    val doubled = docs.unionByName(
      docs.withColumn("doc_id", col("doc_id") + 1000000))
    val res = graft.pipeline.CurationMain.curate(spark, doubled,
      jaccardThreshold = 0.85)
    val counts = res.stages.map(s => s.stage -> s.docs).toMap
    assert(counts("input") == docs.count() * 2)
    assert(counts("exact_dedup") == docs.count(),
      "exact dedup must remove exactly the planted copies")
    assert(counts("near_dedup") <= counts("exact_dedup"))
    assert(counts("quality_gate") <= counts("near_dedup"))
    assert(counts("repetition_gate") <= counts("quality_gate"))
    assert(counts("lm_gate") <= counts("repetition_gate"))
    assert(counts("lm_gate") > 0, "gates must not wipe the real corpus")
    assert(res.curated.count() == counts("lm_gate"))
    // lifecycle: mid-pipeline intermediates are freed as stages
    // materialize; close() releases the final stage's blocks — after it,
    // the pipeline has left nothing registered (deterministic, no GC)
    val during = sc.getPersistentRDDs.keySet -- before
    assert(during.nonEmpty, "pipeline should hold its final-stage blocks")
    assert(during.size <= 2,
      s"only the final stage may stay materialized, got $during")
    res.close()
    val leftover = sc.getPersistentRDDs.keySet -- before
    assert(leftover.isEmpty, s"blocks not freed by close(): $leftover")
  }

  test("brute-force ANN: self is rank 1 with cosine 1") {
    val e = spark.read.parquet(s"$sfSmoke/embeddings.parquet")
    val top = Ann.bruteForceTopK(e, e.filter(col("vec_id") < 3), "vec_id",
        "embedding", "vec_id", k = 1).collect()
    top.foreach { r =>
      assert(r.getLong(2) == r.getLong(0), "rank-1 neighbor must be self")
      assert(math.abs(r.getDouble(3) - 1.0) < 1e-12)
    }
  }

  test("IVF ANN recall vs brute force (probed cells)") {
    val e = spark.read.parquet(s"$sfSmoke/embeddings.parquet")
    val q = e.filter(col("vec_id") < 5)
    val brute = Ann.bruteForceTopK(e, q, "vec_id", "embedding", "vec_id", 4)
      .filter(col("nn_id") =!= col("query_id"))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = Ann.ivfTopK(e, q, "vec_id", "embedding", "vec_id", 4,
        nCells = 8, nProbe = 8) // all cells probed → must equal brute force
      .filter(col("nn_id") =!= col("query_id"))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(ivf == brute, s"full-probe IVF must match exact: ${brute -- ivf}")
  }

  test("repetition signals separate looping text from varied text") {
    import spark.implicits._
    val df = Seq(
      (1L, "spam spam spam spam spam spam"),           // pure loop
      (2L, "one two three four five six seven eight"), // all distinct
      (3L, "ab"),                                      // 1 token: no bigrams
      (4L, "")                                         // empty: all null
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionSignals(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    val loop = got(1L)
    assert(loop.getDouble(1) == 1.0 / 6)  // 1 distinct token of 6
    assert(loop.getDouble(2) == 1.0)      // one bigram dominates
    assert(loop.getDouble(3) == 1.0)      // every trigram repeats
    val varied = got(2L)
    assert(varied.getDouble(1) == 1.0)
    assert(varied.getDouble(2) == 1.0 / 7) // 7 bigrams, all unique
    assert(varied.getDouble(3) == 0.0)     // no repeated trigram
    assert(got(3L).getDouble(1) == 1.0 && got(3L).isNullAt(2)
      && got(3L).isNullAt(3))
    assert(got(4L).isNullAt(1) && got(4L).isNullAt(2) && got(4L).isNullAt(3))
  }

  test("unigram LM score ranks common-token docs above rare-token docs") {
    import spark.implicits._
    val common = Seq.fill(20)((0L, "the cat sat on the mat"))
    val df = (common :+ (100L, "zyzzyva qwertyuiop")).zipWithIndex
      .map { case ((_, t), i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = TextAnalysis.lmScore(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // every common doc shares the same score; the rare-token doc is lower
    val commonScores = (0L until 20L).map(got)
    assert(commonScores.distinct.size == 1)
    assert(got(20L) < commonScores.head,
      s"rare-token doc must score lower: ${got(20L)} vs ${commonScores.head}")
  }

  test("language ID picks marker-dominant language deterministically") {
    import spark.implicits._
    val df = Seq(
      (1L, "the cat and the dog of the house is here"),
      (2L, "der hund und die katze ist hier und der rest"),
      (3L, "le chat et les chiens est ici et le reste")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.withLangId(df).select("doc_id", "lang_pred")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "en" && got(2L) == "de" && got(3L) == "fr")
  }

  // streaming file sources require a directory: `f` gets one holding a
  // copy of `sfDir`'s events table, deleted once `f` returns or throws
  private def withEventsDir[T](sfDir: String, prefix: String)(
      f: String => T): T =
    Dirs.scratch(prefix) { d =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sfDir/events.parquet"),
        d.resolve("events.parquet"))
      f(d.toString)
    }

  test("streaming windowed stats match batch aggregation") {
    withEventsDir(sfSmoke, "graft_events") { eventsDir =>
      val stream = EventStreams.windowedStats(spark, eventsDir,
        windowLen = "1 hour")
      val got = EventStreams.runToMemory(spark, stream, "win_stats",
        org.apache.spark.sql.streaming.OutputMode.Append())
      // append mode emits only closed windows; compare a stable aggregate
      val batch = spark.read.schema(EventStreams.eventSchema)
        .parquet(s"$sfSmoke/events.parquet")
      assert(got.count() > 0)
      val totalN = got.agg(sum("n")).first().getLong(0)
      assert(totalN <= batch.count())
    }
  }

  test("streaming sessionization matches the batch oracle query") {
    withEventsDir(sfSmoke, "graft_events") { eventsDir =>
      val ds = EventStreams.sessionize(spark, eventsDir)
      val got = EventStreams.runToMemory(spark, ds.toDF(), "sessions",
          org.apache.spark.sql.streaming.OutputMode.Update())
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val want = SparkEntry.queries("q_e_sessionize")(spark, sfSmoke)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got == want, s"diff: ${want.toSet -- got.toSet}")
    }
  }

  /** Stream-stream interval join vs its batch twin: exact row-set
    * equality. Shared by the smoke-scale and sf0.1 gates.
    */
  private def assertStreamJoinMatchesBatch(streamDir: String,
      sfDir: String, name: String): Unit = {
    val got = EventStreams.runToMemory(spark,
        EventStreams.purchaseClickJoin(spark, streamDir, lagMinutes = 30),
        name)
      .collect().map(_.toSeq).toSet
    val ev = graft.sources.EventsTs.read(spark, sfDir)
      .withColumn("tsm", org.apache.spark.sql.functions.timestamp_micros(
        org.apache.spark.sql.functions.col("ts")))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("tsm").as("purchase_ts"),
        col("value").as("purchase_value"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("click_user"), col("tsm").as("click_ts"),
        col("value").as("click_value"))
    val want = p.join(c,
        col("user_id") === col("click_user") &&
          col("click_ts") >= col("purchase_ts")
            - org.apache.spark.sql.functions.expr("INTERVAL 30 MINUTES") &&
          col("click_ts") <= col("purchase_ts"))
      .select("user_id", "purchase_ts", "purchase_value",
        "click_ts", "click_value")
      .collect().map(_.toSeq).toSet
    assert(want.nonEmpty, "batch interval join must produce rows")
    assert(got.size == want.size && got == want,
      s"stream/batch diff: ${(want -- got).take(3)} / ${(got -- want).take(3)}")
  }

  test("stream-stream interval join matches the batch join exactly") {
    withEventsDir(sfSmoke, "graft_events") { eventsDir =>
      assertStreamJoinMatchesBatch(eventsDir, sfSmoke, "ss_join")
    }
  }

  test("stream-stream interval join matches batch at sf0.1 (100k events)") {
    val sf01 = "/root/testdata/sf0.1"
    withEventsDir(sf01, "graft_events_sf01") { eventsDir =>
      assertStreamJoinMatchesBatch(eventsDir, sf01, "ss_join_sf01")
    }
  }

  test("stream-stream LEFT OUTER join emits unmatched purchases via " +
    "watermark eviction and matches the batch left join") {
    // full catalog path: heartbeat staging + leftOuter join + sink drain
    val got = SparkEntry.queries("q_e_left_join_stream")(spark, sfSmoke)
      .collect().map(_.toSeq).toSet
    val ev = graft.sources.EventsTs.read(spark, sfSmoke)
      .withColumn("tsm", timestamp_micros(col("ts")))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("tsm").as("purchase_ts"),
        col("value").as("purchase_value"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("click_user"), col("tsm").as("click_ts"),
        col("value").as("click_value"))
    val want = p.join(c,
        col("user_id") === col("click_user") &&
          col("click_ts") >= col("purchase_ts")
            - expr("INTERVAL 30 MINUTES") &&
          col("click_ts") <= col("purchase_ts"),
        "leftOuter")
      .select(col("user_id"),
        unix_micros(col("purchase_ts")).as("purchase_us"),
        col("purchase_value"),
        unix_micros(col("click_ts")).as("click_us"), col("click_value"))
      .collect().map(_.toSeq).toSet
    // the OUTER part must be non-trivial — unmatched purchases exist and
    // their null rows can only appear through state eviction
    assert(want.exists(_(3) == null), "fixture has no unmatched purchase")
    assert(got.size == want.size && got == want,
      s"stream/batch diff: ${(want -- got).take(3)} / ${(got -- want).take(3)}")
  }

  test("stream-stream FULL OUTER join emits unmatched rows on BOTH sides " +
    "and matches the batch full join") {
    val got = SparkEntry.queries("q_e_full_join_stream")(spark, sfSmoke)
      .collect().map(_.toSeq).toSet
    val ev = graft.sources.EventsTs.read(spark, sfSmoke)
      .withColumn("tsm", timestamp_micros(col("ts")))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("tsm").as("purchase_ts"),
        col("value").as("purchase_value"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("click_user"), col("tsm").as("click_ts"),
        col("value").as("click_value"))
    val want = p.join(c,
        col("user_id") === col("click_user") &&
          col("click_ts") >= col("purchase_ts")
            - expr("INTERVAL 30 MINUTES") &&
          col("click_ts") <= col("purchase_ts"),
        "fullOuter")
      .select(coalesce(col("user_id"), col("click_user")).as("user_id"),
        unix_micros(col("purchase_ts")).as("purchase_us"),
        col("purchase_value"),
        unix_micros(col("click_ts")).as("click_us"), col("click_value"))
      .collect().map(_.toSeq).toSet
    // both outer directions must be non-trivial
    assert(want.exists(_(3) == null), "no unmatched purchase in fixture")
    assert(want.exists(_(1) == null), "no unmatched click in fixture")
    assert(got.size == want.size && got == want,
      s"stream/batch diff: ${(want -- got).take(3)} / ${(got -- want).take(3)}")
  }

  test("timeout-closed sessionization equals batch gaps-and-islands and " +
    "conserves the event count") {
    val got = SparkEntry.queries("q_e_closed_sessions")(spark, sfSmoke)
      .collect().map(_.toSeq).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts")
    val want = graft.sources.EventsTs.read(spark, sfSmoke)
      .select(col("user_id"), col("ts"))
      .withColumn("brk",
        when(col("ts") - lag("ts", 1).over(w) > 1800000000L, 1L)
          .otherwise(0L))
      .withColumn("sid", sum("brk").over(
        w.rowsBetween(Long.MinValue, 0)))
      .groupBy("user_id", "sid")
      .agg(min("ts").as("start_us"), max("ts").as("end_us"),
        count(lit(1)).as("n_events"))
      .drop("sid")
      .collect().map(_.toSeq).toSet
    assert(got == want,
      s"diff: ${(want -- got).take(3)} / ${(got -- want).take(3)}")
    // every event is in exactly one closed session
    val total = got.toSeq.map(_(3).asInstanceOf[Long]).sum
    assert(total == graft.sources.EventsTs.read(spark, sfSmoke).count())
  }

  test("multimodal plumbing: meta, features, frames") {
    val docs = spark.read.parquet(s"$sfSmoke/documents.parquet").limit(10)
    val media = Multimodal.asMediaTable(docs, "doc_id", "text", "text/plain")
    val metas = media.select("media_id", "meta.width", "meta.height",
      "meta.n_bytes").collect()
    assert(metas.length == 10)
    metas.foreach { r =>
      // non-image payloads carry no container header → dims are 0×0
      // (real header dims for PNG/GIF/BMP are covered by ImageIoSpec)
      assert(r.getInt(1) == 0 && r.getInt(2) == 0 && r.getLong(3) > 0)
    }
    val feats = Multimodal.extractFeatures(spark, media).collect()
    assert(feats.length == 10 && feats.forall(_.feature.length == 8))
    // deterministic: same blob → same features
    val f2 = Multimodal.extractFeatures(spark, media).collect()
    assert(feats.sortBy(_.media_id).zip(f2.sortBy(_.media_id))
      .forall { case (a, b) => a.feature.sameElements(b.feature) })
    val frames = Multimodal.sampleFrames(spark, media, 4)
    assert(frames.count() == 40)
  }

  test("multimodal kernel seam: an injected codec replaces the stub") {
    // the strongest statement a codec-free environment allows: a fake
    // "codec" swaps in through the MediaKernel seam, its open() runs once
    // per non-empty partition (where a real kernel loads codec handles /
    // model weights), and the distributed result is exactly the kernel
    // applied to every blob
    val opens = spark.sparkContext.longAccumulator("kernel_opens")
    class FakeCodec extends Multimodal.MediaKernel {
      override def open(): Unit = opens.add(1)
      override def featurize(blob: Array[Byte]): Array[Float] = {
        // "decode": 4-dim vector of byte statistics
        val n = math.max(1, blob.length)
        Array(blob.length.toFloat, blob.map(_ & 0xff).sum.toFloat / n,
          blob.headOption.map(_.toFloat).getOrElse(0f),
          blob.lastOption.map(_.toFloat).getOrElse(0f))
      }
    }
    val kernel = new FakeCodec
    val docs = spark.read.parquet(s"$sfSmoke/documents.parquet").limit(50)
      .repartition(4)
    val media = Multimodal.asMediaTable(docs, "doc_id", "text", "text/plain")
    val got = Multimodal.extractFeatures(spark, media, kernel)
      .collect().map(f => f.media_id -> f.feature.toSeq).toMap
    val want = media.select("media_id", "blob").collect()
      .map(r => r.getLong(0) -> kernel.featurize(r.getAs[Array[Byte]](1)).toSeq)
      .toMap
    assert(got == want, "distributed features must equal the kernel's output")
    assert(opens.value >= 1 && opens.value <= 4,
      s"open() must run once per non-empty partition, ran ${opens.value}×")
  }
}
