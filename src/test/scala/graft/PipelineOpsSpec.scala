package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.{AsofJoin, PipelineOps}

class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  // ── repetition signals ───────────────────────────────────────────

  test("repetitionSignals computes the hand-checked fractions") {
    val docs = Seq(
      (1L, "a a a a"),                 // 4 words, all 'a'
      (2L, "a b a b a b"),             // alternation: top word 3/6, bigram 'a b' ×3
      (3L, "v w x y z v w x y z"),     // 10 words: every 5-gram position duplicated
      (4L, "one two three"),           // <5 words: no 5-grams
      (5L, "")                         // empty: must keep a row of zeros
    ).toDF("doc_id", "text")
    val out = PipelineOps.repetitionSignals(docs, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Long, Double, Double, Double, Long)].collect()

    // 'a a' occurs 3× overlapping → 6 covered word-slots over 4 words:
    // the ratio is deliberately uncapped (overlap = more repetition)
    assert(out(0) == ((1L, 4L, 1.0, 1.5, 0.0, 1L)))
    // doc 2: bigrams = ab ba ab ba ab → top 'a b' 3 of 5 positions → 6/6 words
    assert(out(1) == ((2L, 6L, 0.5, 1.0, 0.0, 1L)))
    // doc 3: 6 five-gram positions; 'v w x y z' ×2, the other 4 unique → 2/6
    assert(out(2)._1 == 3L && out(2)._2 == 10L)
    assert(math.abs(out(2)._5 - 2.0 / 6.0) < 1e-15)
    assert(out(2)._6 == 1L) // top_word_frac 0.2 < 0.3 but dup frac 1/3 > 0.15
    // doc 4: no 5-grams → dup frac 0; top word 1/3, top bigram 2/3 → repetitive
    assert(out(3) == ((4L, 3L, 1.0 / 3.0, 2.0 / 3.0, 0.0, 1L)))
    assert(out(4) == ((5L, 0L, 0.0, 0.0, 0.0, 0L)))
  }

  test("repetitionSignals plans no shuffle (row-local counting)") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val plan = PipelineOps.repetitionSignals(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"repetition stats are per-document and must not shuffle:\n$plan")
  }

  test("repetitionSignals keeps one row per document at any partitioning") {
    val docs = (1L to 97L).map(i => (i, s"w${i % 7} x y z q r s t")).toDF("doc_id", "text")
    val a = PipelineOps.repetitionSignals(docs.repartition(13), "doc_id", "text")
    assert(a.count() == 97)
    assert(a.select(countDistinct("doc_id")).as[Long].head() == 97)
  }

  // ── stratified sampling ──────────────────────────────────────────

  private def strata = (1L to 2000L)
    .map(i => (i, if (i % 2 == 0) "en" else "de")).toDF("id", "stratum")

  test("stratifiedSample is deterministic and partitioning-invariant") {
    val w = Map("en" -> 0.25)
    val a = PipelineOps.stratifiedSample(strata, "id", "stratum", w, 0.75)
      .select("id").as[Long].collect().toSet
    val b = PipelineOps.stratifiedSample(strata.repartition(17), "id", "stratum", w, 0.75)
      .select("id").as[Long].collect().toSet
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("stratifiedSample hits per-stratum fractions within binomial noise") {
    val out = PipelineOps.stratifiedSample(strata, "id", "stratum",
      Map("en" -> 0.25), defaultFrac = 0.75)
      .groupBy("stratum").count().as[(String, Long)].collect().toMap
    // 1000 trials each; 4σ ≈ 55 for p=.25, ≈ 55 for p=.75
    assert(math.abs(out("en") - 250L) < 60, s"en kept ${out("en")}")
    assert(math.abs(out("de") - 750L) < 60, s"de kept ${out("de")}")
  }

  test("stratifiedSample keeps everything at 1.0 and nothing at 0.0") {
    assert(PipelineOps.stratifiedSample(strata, "id", "stratum",
      Map.empty, defaultFrac = 1.0).count() == 2000)
    assert(PipelineOps.stratifiedSample(strata, "id", "stratum",
      Map("en" -> 0.0, "de" -> 0.0), defaultFrac = 1.0).count() == 0)
  }

  // ── document chunking ────────────────────────────────────────────

  test("chunkDocuments windows with stride, clamps the tail, skips empty docs") {
    val docs = Seq(
      (1L, "a b c d e f g"),  // 7 tokens
      (2L, "x y"),            // fits one window
      (3L, "")                // no tokens → no chunks
    ).toDF("doc_id", "text")
    val out = PipelineOps.chunkDocuments(docs, "doc_id", "text", chunkSize = 4, stride = 3)
      .orderBy("doc_id", "chunk_idx")
      .as[(Long, Long, Long, String)].collect()
    assert(out.toSeq == Seq(
      (1L, 0L, 4L, "a b c d"),
      (1L, 1L, 4L, "d e f g"),  // overlap of 1 (stride 3 < chunkSize 4)
      (1L, 2L, 1L, "g"),        // tail clamp
      (2L, 0L, 2L, "x y")))
  }

  test("chunkDocuments with stride == chunkSize partitions exactly") {
    val docs = Seq((1L, (1 to 10).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text")
    val out = PipelineOps.chunkDocuments(docs, "doc_id", "text", chunkSize = 5, stride = 5)
      .orderBy("chunk_idx").as[(Long, Long, Long, String)].collect()
    assert(out.map(_._3).sum == 10)  // disjoint cover, no overlap
    assert(out.toSeq.map(_._4) == Seq("t1 t2 t3 t4 t5", "t6 t7 t8 t9 t10"))
  }

  test("chunkDocuments plans no shuffle") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val plan = PipelineOps.chunkDocuments(docs, "doc_id", "text", 4, 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"chunking must not shuffle:\n$plan")
  }

  // ── weighted up/down-sampling ────────────────────────────────────

  test("upsampleByWeight replicates toward the mixture weight deterministically") {
    val df = strata  // 1000 en (even ids) + 1000 de (odd ids)
    val out = PipelineOps.upsampleByWeight(df, "id", "stratum",
      Map("en" -> 2.5, "de" -> 0.25))
    val counts = out.groupBy("stratum").count().as[(String, Long)].collect().toMap
    // en: 1000·2.5 = 2500 expected (binomial ±4σ≈63 on the half-copy);
    // de: 1000·0.25 = 250 expected (±4σ≈55)
    assert(math.abs(counts("en") - 2500L) < 70, s"en got ${counts("en")}")
    assert(math.abs(counts("de") - 250L) < 60, s"de got ${counts("de")}")
    // every en id appears 2 or 3 times, contiguous copy_idx from 0
    val perId = out.where($"stratum" === "en").groupBy("id")
      .agg(count(lit(1)).as("n"), max("copy_idx").as("mx"))
      .as[(Long, Long, Long)].collect()
    assert(perId.forall(r => (r._2 == 2L || r._2 == 3L) && r._3 == r._2 - 1))
    // deterministic under repartition
    val again = PipelineOps.upsampleByWeight(df.repartition(13), "id", "stratum",
      Map("en" -> 2.5, "de" -> 0.25))
      .groupBy("stratum").count().as[(String, Long)].collect().toMap
    assert(again == counts)
  }

  test("upsampleByWeight: weight 1 is identity-with-copy_idx-0, weight 0 drops") {
    val df = strata
    val id1 = PipelineOps.upsampleByWeight(df, "id", "stratum", Map.empty)
    assert(id1.count() == 2000 && id1.where($"copy_idx" =!= 0).count() == 0)
    assert(PipelineOps.upsampleByWeight(df, "id", "stratum",
      Map("en" -> 0.0, "de" -> 0.0)).count() == 0)
  }

  test("upsampleByWeight plans no shuffle") {
    val plan = PipelineOps.upsampleByWeight(strata, "id", "stratum", Map("en" -> 2.0))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"upsampling must not shuffle:\n$plan")
  }

  // ── vocabulary profiling ─────────────────────────────────────────

  test("vocabProfile counts tf/df and cuts top-k deterministically") {
    val docs = Seq(
      (1L, "b b b a c"),
      (2L, "a b c c"),
      (3L, "a")
    ).toDF("doc_id", "text")
    val out = PipelineOps.vocabProfile(docs, "doc_id", "text", k = 2)
      .as[(String, Long, Long)].collect()
    // tf: b=4, a=3, c=3 → top-2 cut ties (a,c) on word asc → a wins
    assert(out.toSeq == Seq(("b", 4L, 2L), ("a", 3L, 3L)))
    assert(PipelineOps.vocabProfile(docs.repartition(7), "doc_id", "text", k = 2)
      .as[(String, Long, Long)].collect().toSeq == out.toSeq)
  }

  test("vocabProfile plans a TakeOrdered, not a global sort") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val plan = PipelineOps.vocabProfile(docs, "doc_id", "text", k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"expected TakeOrdered:\n$plan")
  }

  test("oovRate: per-doc OOV fraction against the top-k vocab; empty docs absent") {
    val docs = Seq(
      (1L, "b b b a c"),       // vocab(k=2) = {b, a}: c is OOV -> 1/5
      (2L, "a b c c"),          // 2 OOV of 4 -> 0.5
      (3L, "a"),                // 0 OOV
      (4L, ""),                 // no tokens -> no row
      (5L, "zz zz")             // all OOV -> 1.0
    ).toDF("doc_id", "text")
    val out = PipelineOps.oovRate(docs, "doc_id", "text", vocabSize = 2)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // tf: b=4, a=4 ties c=3? a=3+... recount: a in docs 1,2,3,5? a tf=3;
    // b tf=4+1=5; c tf=1+2=3; zz tf=2 -> top-2 = {b(5), a(3)} (a beats c on asc)
    assert(out(1L) == ((1L, 5L, 1L, 0.2)))
    assert(out(2L) == ((2L, 4L, 2L, 0.5)))
    assert(out(3L) == ((3L, 1L, 0L, 0.0)))
    assert(!out.contains(4L), "token-less docs emit no row")
    assert(out(5L) == ((5L, 2L, 2L, 1.0)))
  }

  test("oovRateAgainst: supplied foreign vocab, duplicate and NULL entries harmless") {
    val docs = Seq(
      (1L, "a b c"),   // vocab {a, b}: c OOV -> 1/3
      (2L, "c c"),     // all OOV
      (3L, "a a")      // none OOV
    ).toDF("doc_id", "text")
    val vocab = Seq(Some("a"), Some("b"), Some("a"), None)
      .map(_.orNull).toDF("w") // dup 'a' + NULL entry must not distort counts
    val out = PipelineOps.oovRateAgainst(docs, "doc_id", "text", vocab, "w")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._3 == 1L && math.abs(out(1L)._4 - 1.0 / 3) < 1e-15)
    assert(out(2L) == ((2L, 2L, 2L, 1.0)))
    assert(out(3L) == ((3L, 2L, 0L, 0.0)))
    // self-derived overload ≡ oovRateAgainst(vocabProfile(...)): same rows
    val self = PipelineOps.oovRate(docs, "doc_id", "text", vocabSize = 2)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    val viaAgainst = PipelineOps.oovRateAgainst(docs, "doc_id", "text",
        PipelineOps.vocabProfile(docs, "doc_id", "text", 2), "word")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(self == viaAgainst)
  }

  test("oovRate plan: vocab membership is a broadcast join, no token shuffle") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val plan = PipelineOps.oovRate(docs, "doc_id", "text", vocabSize = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"vocab membership must broadcast:\n$plan")
  }

  test("snapshotDiff classifies added/removed/changed/unchanged; null text digests as empty") {
    val oldSnap = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"),
      (4L, null.asInstanceOf[String])).toDF("id", "text")
    val newSnap = Seq((1L, "alpha"), (2L, "beta v2"),
      (4L, null.asInstanceOf[String]), (5L, "delta")).toDF("id", "text")
    val out = PipelineOps.snapshotDiff(oldSnap, newSnap, "id", "text")
      .select("id", "status").as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      4L -> "unchanged", 5L -> "added"))
  }

  test("snapshotDiff raises loudly on duplicate ids (multiset diff is ill-defined)") {
    val dup = Seq((1L, "a"), (1L, "b")).toDF("id", "text")
    val clean = Seq((1L, "a")).toDF("id", "text")
    val e = intercept[Exception] {
      PipelineOps.snapshotDiff(dup, clean, "id", "text").collect()
    }
    assert(causeMessages(e).exists(_.contains("duplicate id")), causeMessages(e).mkString("|"))
  }

  test("snapshotDiff plan: digest aggregates feed the full-outer id join") {
    // RDD-backed snapshots, so Spark plans the aggregates: over local
    // ones they fold on the driver once an Engine has installed
    // FoldLocalAggregate on the session
    val a = spark.sparkContext.parallelize(Seq((1L, "x"))).toDF("id", "text")
    val b = spark.sparkContext.parallelize(Seq((1L, "x"))).toDF("id", "text")
    val lp = PipelineOps.snapshotDiff(a, b, "id", "text")
      .queryExecution.optimizedPlan
    // the join's direct children must be the (id, digest) aggregates —
    // raw text reduces to a 32-hex digest BEFORE anything shuffles
    val joins = lp.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
    assert(joins.size == 1 && joins.head.joinType.sql == "FULL OUTER",
      s"one full-outer join expected:\n$lp")
    joins.head.children.foreach { side =>
      val agg = side.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a }
      assert(agg.isDefined, s"each join side must be a digest aggregate:\n$lp")
    }
  }

  // ── contamination screening ──────────────────────────────────────

  test("contaminationCheck counts distinct shared n-grams, zero-fills the clean") {
    val probe = Seq((100L, "the quick brown fox jumps over the lazy dog")).toDF("id", "text")
    val corpus = Seq(
      (1L, "intro text then the quick brown fox jumps right here"),  // shares 1 5-gram
      (2L, "completely unrelated words in this one document"),
      (3L, "the quick brown fox jumps over the lazy dog again")      // shares 5 5-grams
    ).toDF("id", "text")
    val out = PipelineOps.contaminationCheck(corpus, probe, "id", "text", n = 5)
      .orderBy("id").as[(Long, Long, Long)].collect()
    assert(out(0) == ((1L, 1L, 1L)))
    assert(out(1) == ((2L, 0L, 0L)))
    assert(out(2) == ((3L, 5L, 1L)))
  }

  test("contaminationCheck broadcasts the probe side") {
    val probe = Seq((100L, "a b c d e")).toDF("id", "text")
    val corpus = Seq((1L, "a b c d e f")).toDF("id", "text")
    val plan = PipelineOps.contaminationCheck(corpus, probe, "id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"probe join should broadcast:\n$plan")
  }

  // ── PII redaction ────────────────────────────────────────────────

  test("redactPii masks emails and IPv4s, counts match") {
    val rows = Seq(
      "mail me at a.user+tag@sub.example.org or 192.168.0.1 thanks",
      "no pii here at all",
      "two ips 10.0.0.1 and 255.255.255.255 one mail x@y.co"
    ).toDF("t").select(
      TextFunctions.redactPii($"t").as("red"),
      TextFunctions.countMatches($"t", TextFunctions.emailPattern).as("ne"),
      TextFunctions.countMatches($"t", TextFunctions.ipv4Pattern).as("ni"))
      .as[(String, Long, Long)].collect()
    assert(rows(0) == (("mail me at <EMAIL> or <IP> thanks", 1L, 1L)))
    assert(rows(1) == (("no pii here at all", 0L, 0L)))
    assert(rows(2) == (("two ips <IP> and <IP> one mail <EMAIL>", 1L, 2L)))
  }

  // ── as-of join ───────────────────────────────────────────────────

  private def purchases = Seq(
    (10L, 1L, 100L, 5.0), (11L, 1L, 200L, 7.0),
    (12L, 2L, 150L, 9.0)
  ).toDF("event_id", "user_id", "ts", "value")

  test("asofJoin attaches the most recent at-or-before payload") {
    val clicks = Seq(
      (20L, 1L, 50L, 0.1),   // before any purchase → null
      (21L, 1L, 100L, 0.2),  // exactly at purchase 10 → 5.0 ("at or before")
      (22L, 1L, 150L, 0.3),  // between → 5.0
      (23L, 1L, 999L, 0.4),  // after both → 7.0
      (24L, 2L, 140L, 0.5),  // user 2, before its purchase → null
      (25L, 3L, 500L, 0.6)   // user with no purchases → null
    ).toDF("event_id", "user_id", "ts", "value")
    val out = AsofJoin.asofJoin(clicks, purchases, Seq("user_id"), "ts", "event_id", Seq("value"))
      .orderBy("event_id")
      .select("event_id", "asof_value").as[(Long, Option[Double])].collect()
    assert(out.toSeq == Seq(20L -> None, 21L -> Some(5.0), 22L -> Some(5.0),
      23L -> Some(7.0), 24L -> None, 25L -> None))
  }

  test("asofJoinForward attaches the earliest at-or-after payload") {
    val clicks = Seq(
      (20L, 1L, 50L, 0.1),   // before both purchases → 5.0 (next at 100)
      (21L, 1L, 100L, 0.2),  // exactly at purchase 10 → 5.0 ("at or after")
      (22L, 1L, 150L, 0.3),  // between → 7.0 (next at 200)
      (23L, 1L, 999L, 0.4),  // after both → null
      (24L, 2L, 140L, 0.5),  // user 2, before its purchase → 9.0
      (25L, 3L, 500L, 0.6)   // user with no purchases → null
    ).toDF("event_id", "user_id", "ts", "value")
    val out = AsofJoin.asofJoinForward(clicks, purchases,
        Seq("user_id"), "ts", "event_id", Seq("value"))
      .orderBy("event_id")
      .select("event_id", "asof_value").as[(Long, Option[Double])].collect()
    assert(out.toSeq == Seq(20L -> Some(5.0), 21L -> Some(5.0), 22L -> Some(7.0),
      23L -> None, 24L -> Some(9.0), 25L -> None))
  }

  test("asofJoinForward breaks equal-time right-side ties by tieCol (smallest wins)") {
    val right = Seq((1L, 1L, 100L, 1.0), (2L, 1L, 100L, 2.0)).toDF("event_id", "user_id", "ts", "value")
    val left = Seq((9L, 1L, 100L, 0.0)).toDF("event_id", "user_id", "ts", "value")
    (1 to 3).foreach { i =>
      val out = AsofJoin.asofJoinForward(left.repartition(i), right.repartition(4 - i),
        Seq("user_id"), "ts", "event_id", Seq("value"))
        .select("asof_value").as[Double].collect()
      assert(out.toSeq == Seq(1.0)) // smaller event_id sorts first → wins
    }
  }

  test("asofJoinNearest picks the closer row; equal |dt| goes backward (pandas rule)") {
    val clicks = Seq(
      (20L, 1L, 120L, 0.1),  // prev at 100 (d=20), next at 200 (d=80) → 5.0
      (21L, 1L, 180L, 0.2),  // prev d=80, next d=20 → 7.0
      (22L, 1L, 150L, 0.3),  // exact tie d=50 both → backward → 5.0
      (23L, 1L, 50L, 0.4),   // before all → forward → 5.0
      (24L, 1L, 999L, 0.5),  // after all → backward → 7.0
      (25L, 3L, 500L, 0.6)   // no purchases → null
    ).toDF("event_id", "user_id", "ts", "value")
    val out = AsofJoin.asofJoinNearest(clicks, purchases,
        Seq("user_id"), "ts", "event_id", Seq("value"))
      .orderBy("event_id")
      .select("event_id", "asof_value").as[(Long, Option[Double])].collect()
    assert(out.toSeq == Seq(20L -> Some(5.0), 21L -> Some(7.0), 22L -> Some(5.0),
      23L -> Some(5.0), 24L -> Some(7.0), 25L -> None))
  }

  test("asofJoinNearest is ROW-ATOMIC on null-bearing payloads (pandas parity), unlike the per-column directional composition") {
    // right rows: t=90 (a=1, b=null), t=110 (a=null, b=2). Left click at
    // t=100: nearest right row is t=90 (tie |Δt|=10 goes backward) →
    // pandas attaches THAT row wholesale: (a=1, b=null).
    // The per-column composition instead takes, per direction, each
    // column's last/first NON-NULL — backward arm at t=100 sees a=1
    // (t=90) and NO b at all; forward arm sees b=2 (t=110), no a; the
    // race time would come from different rows per column and b would
    // arrive as 2 — a value pandas never produces here.
    val right = Seq(
      (1L, 1L, 90L, Some(1.0), Option.empty[Double]),
      (2L, 1L, 110L, Option.empty[Double], Some(2.0))
    ).toDF("event_id", "user_id", "ts", "a", "b")
    val left = Seq((9L, 1L, 100L)).toDF("event_id", "user_id", "ts")
    val out = AsofJoin.asofJoinNearest(left, right,
        Seq("user_id"), "ts", "event_id", Seq("a", "b"))
      .select("asof_a", "asof_b")
      .as[(Option[Double], Option[Double])].collect()
    assert(out.toSeq == Seq((Some(1.0), None)),
      s"nearest must attach the t=90 row wholesale (a=1, b=null); got ${out.toSeq}")
    // an all-null-payload right row is still 'the nearest row' — it
    // does NOT re-open the search toward a farther non-null row
    val right2 = Seq(
      (1L, 1L, 90L, Some(1.0)), (2L, 1L, 99L, Option.empty[Double])
    ).toDF("event_id", "user_id", "ts", "a")
    val out2 = AsofJoin.asofJoinNearest(left, right2,
        Seq("user_id"), "ts", "event_id", Seq("a"))
      .select("asof_a").as[Option[Double]].collect()
    assert(out2.toSeq == Seq(None),
      s"the adjacent t=99 row wins even though its payload is null; got ${out2.toSeq}")
  }

  test("asofJoin breaks equal-time right-side ties by tieCol, deterministically") {
    val right = Seq((1L, 1L, 100L, 1.0), (2L, 1L, 100L, 2.0)).toDF("event_id", "user_id", "ts", "value")
    val left = Seq((9L, 1L, 100L, 0.0)).toDF("event_id", "user_id", "ts", "value")
    (1 to 3).foreach { i =>
      val out = AsofJoin.asofJoin(left.repartition(i), right.repartition(4 - i),
        Seq("user_id"), "ts", "event_id", Seq("value"))
        .select("asof_value").as[Double].collect()
      assert(out.toSeq == Seq(2.0)) // larger event_id sorts last → wins
    }
  }

  test("asofJoin plans one shuffle on the key, no cartesian/range join") {
    val left = Seq((1L, 1L, 10L, 0.0)).toDF("event_id", "user_id", "ts", "value")
    val plan = AsofJoin.asofJoin(left, purchases, Seq("user_id"), "ts", "event_id", Seq("value"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"as-of must not plan a product join:\n$plan")
    assert(plan.contains("Window"), s"expected the running-last window:\n$plan")
  }

  test("shuffleOrder: contiguous 1..n positions, partitioning-invariant, seed-sensitive") {
    val docs = (1L to 40L).map(i => (i, s"d$i")).toDF("id", "t")
    val out = PipelineOps.shuffleOrder(docs, "id", seed = 7L)
      .select("id", "shuffle_pos").as[(Long, Long)].collect().sortBy(_._1)
    assert(out.map(_._2).sorted.toSeq == (1L to 40L), "positions must be a permutation of 1..n")
    // driver replay of the contract: md5("7:" + id) asc, id asc
    def key(id: Long): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s"7:$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected = (1L to 40L).sortBy(i => (key(i), i)).zipWithIndex
      .map { case (id, i) => id -> (i + 1L) }.toMap
    assert(out.toMap == expected)
    (1 to 3).foreach { p =>
      val again = PipelineOps.shuffleOrder(docs.repartition(p), "id", 7L)
        .select("id", "shuffle_pos").as[(Long, Long)].collect().toMap
      assert(again == expected, s"parts=$p must not change the order")
    }
    // a different seed is a genuinely different epoch order
    val other = PipelineOps.shuffleOrder(docs, "id", seed = 8L)
      .select("id", "shuffle_pos").as[(Long, Long)].collect().toMap
    assert(other != expected)
    val e = intercept[IllegalArgumentException] {
      PipelineOps.shuffleOrder(out.toSeq.toDF("id", "shuffle_pos"), "id", 7L)
    }
    assert(e.getMessage.contains("already exists"))
  }

  test("selectByBudget: strict prefix of the (score DESC, id) order, inclusive cum_weight") {
    // scores/weights: id1 w10 s5, id2 w20 s9, id3 w15 s9, id4 w30 s1
    // order: (9,id2) w20 -> cum 20; (9,id3) w15 -> 35; (5,id1) w10 -> 45;
    // (1,id4) w30 -> 75 > 50 -> cut. Budget 50 keeps {2,3,1}.
    val d = Seq((1L, 10L, 5.0), (2L, 20L, 9.0), (3L, 15L, 9.0), (4L, 30L, 1.0))
      .toDF("id", "w", "score")
    val out = PipelineOps.selectByBudget(d, "id", "w", "score", budget = 50L)
      .select("id", "cum_weight").as[(Long, Long)].collect().toMap
    assert(out == Map(2L -> 20L, 3L -> 35L, 1L -> 45L))
    // strict prefix: a later row that WOULD fit is still cut (id4=30
    // over at cum 75; nothing after it back-fills)
    val tight = PipelineOps.selectByBudget(d, "id", "w", "score", budget = 36L)
      .select("id").as[Long].collect().toSet
    assert(tight == Set(2L, 3L), "no knapsack back-fill past the first overflow")
    // partitioning invariance
    (1 to 3).foreach { p =>
      val again = PipelineOps.selectByBudget(d.repartition(p), "id", "w", "score", 50L)
        .select("id", "cum_weight").as[(Long, Long)].collect().toMap
      assert(again == out, s"parts=$p")
    }
    // negative weight raises loudly
    val e = intercept[Exception] {
      PipelineOps.selectByBudget(Seq((1L, -5L, 1.0)).toDF("id", "w", "score"),
        "id", "w", "score", 100L).collect()
    }
    assert(causeMessages(e).exists(_.contains("negative")), causeMessages(e).mkString("|"))
    // NULL weight raises too (r14 ADVICE): a NULL token count would
    // otherwise ride FREE under the budget — same pipeline bug as a
    // negative, same loud contract
    val eNull = intercept[Exception] {
      PipelineOps.selectByBudget(
        Seq((1L, Some(5L), 9.0), (2L, None, 5.0)).toDF("id", "w", "score"),
        "id", "w", "score", 100L).collect()
    }
    assert(causeMessages(eNull).exists(_.contains("NULL")),
      causeMessages(eNull).mkString("|"))
  }

  test("shuffleOrder/interleaveGroups raise loudly on a NULL id (digest contract)") {
    // concat_ws would silently digest md5("<seed>:") while the oracle's
    // `||` yields NULL — the unique-id contract forbids NULL, loudly
    val d = Seq((Some(1L), "a"), (None, "b")).toDF("id", "g")
    val e = intercept[Exception] {
      PipelineOps.shuffleOrder(d, "id", seed = 7L).collect()
    }
    assert(causeMessages(e).exists(_.contains("NULL 'id'")),
      causeMessages(e).mkString("|"))
    val e2 = intercept[Exception] {
      PipelineOps.interleaveGroups(d, "id", "g", seed = 7L).collect()
    }
    assert(causeMessages(e2).exists(_.contains("NULL 'id'")),
      causeMessages(e2).mkString("|"))
  }

  test("shardPackByOrder: shuffleOrder composition packs shards in epoch order, partitioning-invariant") {
    val docs = (1L to 40L).map(i => (i, (i % 7) * 10L)).toDF("id", "w")
    val ordered = PipelineOps.shuffleOrder(docs, "id", seed = 7L)
    val out = PipelineOps.shardPackByOrder(ordered, "shuffle_pos", "w", budget = 60L)
      .select("id", "shuffle_pos", "shard_id", "shard_offset")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._2)
    // driver replay: exclusive prefix of w in shuffle_pos order
    val wOf = (1L to 40L).map(i => i -> (i % 7) * 10L).toMap
    var before = 0L
    out.foreach { case (id, _, shard, off) =>
      assert(shard == before / 60L && off == before % 60L, s"id=$id")
      before += wOf(id)
    }
    (1 to 3).foreach { p =>
      val again = PipelineOps.shardPackByOrder(
          PipelineOps.shuffleOrder(docs.repartition(p), "id", 7L),
          "shuffle_pos", "w", 60L)
        .select("id", "shard_id", "shard_offset")
        .as[(Long, Long, Long)].collect().toSet
      assert(again == out.map(t => (t._1, t._3, t._4)).toSet, s"parts=$p")
    }
  }

  test("interleaveGroups: round-robin across groups, seeded within-group order, null group kept") {
    val d = Seq((1L, "a"), (2L, "a"), (3L, "a"), (4L, "b"), (5L, "b"), (6L, "c"))
      .toDF("id", "g")
    val out = PipelineOps.interleaveGroups(d, "id", "g", seed = 3L)
      .select("id", "g", "interleave_pos").as[(Long, String, Long)].collect()
    assert(out.map(_._3).sorted.toSeq == (1L to 6L))
    // round 1 = positions 1..3 covering every group exactly once;
    // round 2 = a and b again; round 3 = a's last
    val byPos = out.sortBy(_._3).map(_._2).toSeq
    assert(byPos.take(3).toSet == Set("a", "b", "c"), s"round 1 must cover all groups: $byPos")
    assert(byPos.slice(3, 5).toSet == Set("a", "b"))
    assert(byPos.last == "a")
    // driver replay: within-group rank by (md5("3:"+id), id), then (r, g)
    def key(id: Long) = java.security.MessageDigest.getInstance("MD5")
      .digest(s"3:$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val rows = Seq((1L, "a"), (2L, "a"), (3L, "a"), (4L, "b"), (5L, "b"), (6L, "c"))
    val rr = rows.groupBy(_._2).flatMap { case (_, rs) =>
      rs.sortBy(t => (key(t._1), t._1)).zipWithIndex.map { case (t, i) => t._1 -> (i + 1) }
    }
    val expected = rows.sortBy(t => (rr(t._1), t._2)).zipWithIndex
      .map { case (t, i) => t._1 -> (i + 1L) }.toMap
    assert(out.map(t => t._1 -> t._3).toMap == expected)
    // partitioning invariance + a NULL group row is interleaved, not dropped
    val withNull = d.unionByName(Seq((7L, null.asInstanceOf[String])).toDF("id", "g"))
    (1 to 3).foreach { p =>
      val n = PipelineOps.interleaveGroups(withNull.repartition(p), "id", "g", 3L)
      assert(n.count() == 7L, s"parts=$p: null-group row must survive")
    }
    // the broadcast-bounded contract is guarded loudly: an
    // id-cardinality group column raises instead of OOMing the driver
    val e2 = intercept[IllegalArgumentException] {
      PipelineOps.interleaveGroups(d, "id", "g", 3L, maxGroups = 2L)
    }
    assert(e2.getMessage.contains("distinct"))
  }

  test("categoricalDiversity: hand-computed Simpson, null is a category, monoculture reads 0, empty raises") {
    // mix a,a,b,c: 1 - (4+1+1)/16 = 10/16 = 0.625
    val out = PipelineOps.categoricalDiversity(
        Seq("a", "a", "b", "c").toDF("c"), "c")
      .as[(Long, Long, Double)].head()
    assert(out == ((4L, 3L, 0.625)))
    // null counts as a category: a,null -> 1 - 2/4 = 0.5
    val withNull = PipelineOps.categoricalDiversity(
        Seq(Some("a"), None).map(_.orNull).toDF("c"), "c")
      .as[(Long, Long, Double)].head()
    assert(withNull == ((2L, 2L, 0.5)))
    assert(PipelineOps.categoricalDiversity(Seq("x", "x", "x").toDF("c"), "c")
      .as[(Long, Long, Double)].head() == ((3L, 1L, 0.0)))
    val e = intercept[Exception] {
      PipelineOps.categoricalDiversity(Seq.empty[String].toDF("c"), "c").collect()
    }
    assert(causeMessages(e).exists(_.contains("empty input")), causeMessages(e).mkString("|"))
  }

  test("windowedDiversity: per-window hand math, floor bucketing for negative ts, null-ts dropped") {
    // window 0: a,a,b -> 1 - 5/9 = 4/9; window [-100,0): a,b -> 0.5
    val events = Seq((Some(-1L), "a"), (Some(-5L), "b"), (Some(0L), "a"),
      (Some(5L), "a"), (Some(99L), "b"), (None, "a"))
      .map { case (t, c) => (t.map(java.lang.Long.valueOf).orNull, c) }
      .toDF("ts", "cat")
    val out = PipelineOps.windowedDiversity(events, "ts", "cat", 100L)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(out == Seq((-100L, 2L, 2L, 0.5), (0L, 3L, 2L, 4.0 / 9)))
  }

  // ── shard packing ────────────────────────────────────────────────

  test("shardPack assigns (shard, offset) by exclusive prefix over the md5 order") {
    val docs = (1L to 20L).map(i => (i, 10L * i)).toDF("id", "w")
    val out = PipelineOps.shardPack(docs, "id", "w", budget = 300L)
      .as[(Long, Long, Long, Long)].collect()
    // replay the contract on the driver: md5(id:salt) order, exclusive
    // prefix sum, floor-div / mod by budget
    def key(id: Long): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id:graft-shard".getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }
    val ordered = (1L to 20L).sortBy(i => (key(i), i))
    var before = 0L
    val expected = ordered.map { i =>
      val so = (before / 300L, before % 300L); before += 10L * i; i -> so
    }.toMap
    assert(out.length == 20)
    out.foreach { case (id, _, shard, offset) =>
      assert((shard, offset) == expected(id),
        s"doc $id: got ($shard, $offset), expected ${expected(id)}") }
    graft.CacheScope.releaseAll()
  }

  test("packSequences tiles every window exactly and every doc exactly") {
    val docs = (1L to 30L).map(i => (i, i % 9)).toDF("id", "w") // some zero-weight
    val out = PipelineOps.packSequences(docs, "id", "w", seqLen = 10L).collect()
    val total = (1L to 30L).map(_ % 9).sum
    // Σ seg_len over everything = corpus tokens
    assert(out.map(_.getAs[Long]("seg_len")).sum === total)
    // every window except the last is exactly full and gap-free
    val lastWin = (total - 1) / 10
    out.groupBy(_.getAs[Long]("window_id")).foreach { case (win, rows) =>
      val lens = rows.map(_.getAs[Long]("seg_len")).sum
      if (win < lastWin) assert(lens === 10L, s"window $win not full: $lens")
      val covered = rows.map(r => (r.getAs[Long]("seg_start"),
        r.getAs[Long]("seg_start") + r.getAs[Long]("seg_len"))).sortBy(_._1)
      covered.sliding(2).foreach {
        case Array((_, e0), (s1, _)) => assert(e0 === s1, s"gap in window $win")
        case _ =>
      }
      assert(covered.head._1 === 0L)
    }
    // every doc's segments tile the doc: tok_start runs 0..w contiguously
    out.groupBy(_.getAs[Long]("id")).foreach { case (id, rows) =>
      val w = id % 9
      val sorted = rows.sortBy(_.getAs[Long]("tok_start"))
      assert(sorted.head.getAs[Long]("tok_start") === 0L)
      assert(sorted.map(_.getAs[Long]("seg_len")).sum === w)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a.getAs[Long]("tok_start") +
          a.getAs[Long]("seg_len") === b.getAs[Long]("tok_start"))
        case _ =>
      }
    }
    // zero-weight docs emit nothing
    assert(!out.exists(r => r.getAs[Long]("id") % 9 === 0L))
    graft.CacheScope.releaseAll()
  }

  test("packSequences tiling invariants hold for random weights incl. giant docs") {
    // randomized twin of the fixed-weight test: weights up to 3×
    // seqLen force multi-window documents through the explode
    val rnd = new scala.util.Random(8L)
    val weights = (1L to 40L).map(i => i -> (rnd.nextInt(31)).toLong) // 0..30, seqLen 10
    val docs = weights.toDF("id", "w")
    val out = PipelineOps.packSequences(docs, "id", "w", seqLen = 10L).collect()
    val wMap = weights.toMap
    val total = wMap.values.sum
    assert(out.map(_.getAs[Long]("seg_len")).sum === total)
    assert(out.forall(r => r.getAs[Long]("seg_len") >= 1L &&
      r.getAs[Long]("seg_len") <= 10L))
    // per doc: contiguous tok_start tiling, segment count = #windows touched
    out.groupBy(_.getAs[Long]("id")).foreach { case (id, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("tok_start"))
      assert(sorted.head.getAs[Long]("tok_start") === 0L)
      assert(sorted.map(_.getAs[Long]("seg_len")).sum === wMap(id))
      // windows a doc touches are consecutive integers
      val wins = sorted.map(_.getAs[Long]("window_id"))
      assert(wins === (wins.head to wins.last))
    }
    // per window: gap-free from 0, full except possibly the last
    val lastWin = (total - 1) / 10
    out.groupBy(_.getAs[Long]("window_id")).foreach { case (win, rows) =>
      val covered = rows.map(r => (r.getAs[Long]("seg_start"),
        r.getAs[Long]("seg_start") + r.getAs[Long]("seg_len"))).sortBy(_._1)
      assert(covered.head._1 === 0L)
      covered.sliding(2).foreach {
        case Array((_, e0), (s1, _)) => assert(e0 === s1, s"gap in window $win")
        case _ =>
      }
      if (win < lastWin) assert(rows.map(_.getAs[Long]("seg_len")).sum === 10L)
    }
    graft.CacheScope.releaseAll()
  }

  test("shardPack is invariant to input partitioning") {
    val docs = (1L to 100L).map(i => (i, i % 7 + 1)).toDF("id", "w")
    val runs = Seq(1, 3, 13).map { p =>
      PipelineOps.shardPack(docs.repartition(p), "id", "w", budget = 50L)
        .select("id", "shard_id").as[(Long, Long)].collect().toMap
    }
    assert(runs.distinct.size == 1, "shard assignment must not depend on partitioning")
    graft.CacheScope.releaseAll()
  }

  test("shardPack: an oversized row occupies its start shard; no global window in the plan") {
    val docs = Seq((1L, 10L), (2L, 1000L), (3L, 10L)).toDF("id", "w")
    val out = PipelineOps.shardPack(docs, "id", "w", budget = 100L)
    // 3 rows, one 10× the budget: shards must still be non-decreasing
    // along the md5 order and the big row's successor lands ≥ 10 shards on
    val byShard = out.select("shard_id").as[Long].collect().sorted
    assert(byShard.length == 3 && byShard.last >= 10L)
    graft.CacheScope.releaseAll()
  }

  test("shardPayloads concatenates in shard order, invariant to partitioning") {
    val docs = (1L to 30L).map(i => (i, 10L, s"doc$i")).toDF("id", "w", "text")
    val packed = PipelineOps.shardPack(docs, "id", "w", budget = 100L)
    val pay = PipelineOps.shardPayloads(packed, "id", "text", sep = "|")
      .as[(Long, Long, String)].collect().sortBy(_._1)
    assert(pay.map(_._2).sum == 30, "every doc lands in exactly one payload")
    // replay: payload text order == ascending shard_offset
    val byShard = packed.select("shard_id", "shard_offset", "id")
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(r => (r._2, r._3)).map(r => s"doc${r._3}"))
    pay.foreach { case (sid, _, p) =>
      assert(p == byShard(sid).mkString("|"), s"shard $sid payload order") }
    // repartitioned input → identical payloads
    val pay2 = PipelineOps.shardPayloads(
        PipelineOps.shardPack(docs.repartition(7), "id", "w", budget = 100L),
        "id", "text", sep = "|")
      .as[(Long, Long, String)].collect().sortBy(_._1)
    assert(pay2.toSeq == pay.toSeq)
    graft.CacheScope.releaseAll()
  }

  // ── boilerplate stripping ────────────────────────────────────────

  test("stripBoilerplate removes cross-doc frequent segments, preserves order") {
    val docs = Seq(
      (1L, "COOKIE NOTICE\nreal content one\nFOOTER"),
      (2L, "COOKIE NOTICE\nreal content two\nFOOTER"),
      (3L, "COOKIE NOTICE\nunique middle\nmore unique\nFOOTER"),
      (4L, "COOKIE NOTICE\nFOOTER"),               // nothing survives
      (5L, "standalone page")                       // untouched
    ).toDF("doc_id", "text")
    val out = PipelineOps.stripBoilerplate(docs, "doc_id", "text", maxDocFreq = 3L)
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect()
    assert(out(0) == ((1L, "real content one", 1L, 2L)))
    assert(out(1) == ((2L, "real content two", 1L, 2L)))
    assert(out(2) == ((3L, "unique middle\nmore unique", 2L, 2L)))
    assert(out(3) == ((4L, "", 0L, 2L)))
    assert(out(4) == ((5L, "standalone page", 1L, 0L)))
  }

  test("stripBoilerplate counts doc frequency over distinct docs, not occurrences") {
    // 'dup' appears 3× in ONE doc — occurrence count 3 exceeds the
    // threshold but doc freq is 1, so it must survive
    val docs = Seq((1L, "dup\ndup\ndup"), (2L, "other")).toDF("doc_id", "text")
    val out = PipelineOps.stripBoilerplate(docs, "doc_id", "text", maxDocFreq = 2L)
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect()
    assert(out(0) == ((1L, "dup\ndup\ndup", 3L, 0L)))
  }

  test("stripBoilerplate honors a custom delimiter (word granularity)") {
    val docs = Seq((1L, "the cat"), (2L, "the dog"), (3L, "the bird")).toDF("doc_id", "text")
    val out = PipelineOps.stripBoilerplate(docs, "doc_id", "text",
        maxDocFreq = 2L, delim = " ")
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect()
    assert(out.map(_._2).toSeq == Seq("cat", "dog", "bird"))
  }

  // ── global first-occurrence line dedup ───────────────────────────

  test("dedupLines keeps exactly the corpus-wide first occurrence of each line") {
    val docs = Seq(
      (1L, "alpha\nshared\nbeta"),
      (2L, "shared\ngamma"),
      (3L, "shared\nalpha")                         // every line lost
    ).toDF("doc_id", "text")
    val out = PipelineOps.dedupLines(docs, "doc_id", "text")
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect()
    assert(out(0) == ((1L, "alpha\nshared\nbeta", 3L, 3L)))
    assert(out(1) == ((2L, "gamma", 2L, 1L)))
    assert(out(2) == ((3L, "", 2L, 0L)))
  }

  test("dedupLines collapses intra-document repeats to the first position") {
    // unlike stripBoilerplate (doc-frequency gate), dedup is over raw
    // occurrences: repeats INSIDE one document lose to its first copy
    val docs = Seq((1L, "dup dup dup unique"), (2L, "dup x")).toDF("doc_id", "text")
    val out = PipelineOps.dedupLines(docs, "doc_id", "text", delim = " ")
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect()
    assert(out(0) == ((1L, "dup unique", 4L, 2L)))
    assert(out(1) == ((2L, "x", 2L, 1L)))
  }

  test("dedupLines is partitioning-invariant (winner = total order on (id, pos))") {
    val docs = (1L to 60L).map(i => (i, s"w${i % 7} common w${i % 11}"))
      .toDF("doc_id", "text")
    def run(d: org.apache.spark.sql.DataFrame) =
      PipelineOps.dedupLines(d, "doc_id", "text", delim = " ")
        .as[(Long, String, Long, Long)].collect().toSet
    assert(run(docs) == run(docs.repartition(13)))
  }

  test("dedupLines rejects colliding idCol names") {
    val docs = Seq((1L, "a")).toDF("n_lines", "text")
    assertThrows[IllegalArgumentException] {
      PipelineOps.dedupLines(docs, "n_lines", "text")
    }
  }

  // ── rare-token scoring ───────────────────────────────────────────

  test("rareTokenSignals counts OOV occurrences against the corpus head") {
    // corpus tf: a=3, b=2, c=1, z=1 → head at minCount=2 is {a, b}
    val docs = Seq((1L, "a a b"), (2L, "a c"), (3L, ""), (4L, "b z"))
      .toDF("doc_id", "text")
    val out = PipelineOps.rareTokenSignals(docs, "doc_id", "text", minCount = 2L)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect()
    assert(out(0) == ((1L, 3L, 0L, 0.0)))
    assert(out(1) == ((2L, 2L, 1L, 0.5)))
    assert(out(2) == ((3L, 0L, 0L, 0.0))) // empty doc keeps a zero row
    assert(out(3) == ((4L, 2L, 1L, 0.5)))
  }

  test("rareTokenSignals broadcasts the vocabulary head, not the tail") {
    val docs = Seq((1L, "a a b c")).toDF("doc_id", "text")
    val plan = PipelineOps.rareTokenSignals(docs, "doc_id", "text", minCount = 2L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the common-word probe must be a broadcast semi-join:\n$plan")
  }

  test("de-hinted semi-joins are strategy-invariant: forced shuffle == broadcast") {
    // Round 11 removed the forced broadcast() hints from
    // stripBoilerplate's frequent-line set and rareTokenSignals'
    // common-token set (both corpus-vocabulary-scaled — an OOM at
    // 100 TB). The claim "AQE shuffles when the set doesn't fit" is
    // only safe if the shuffle arm is actually exercised and agrees:
    // this disables BOTH broadcast thresholds (static + adaptive) so
    // the semi-joins MUST plan as shuffled joins, and pins the results
    // equal to the default-path (broadcast) results.
    val docs = (1L to 50L).map(i =>
      (i, s"COMMON w${i % 7} COMMON w$i w${i % 11}")).toDF("doc_id", "text")
    def stripped() = PipelineOps.stripBoilerplate(docs, "doc_id", "text",
        maxDocFreq = 6L, delim = " ")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    def rare() = PipelineOps.rareTokenSignals(docs, "doc_id", "text", minCount = 4L)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val (sB, rB) = (stripped(), rare())
    val conf = spark.conf
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold").map(k =>
      k -> conf.getOption(k))
    try {
      saved.foreach { case (k, _) => conf.set(k, "-1") }
      // sanity: the shuffle arm is really the one running now
      val plan = PipelineOps.rareTokenSignals(docs, "doc_id", "text", minCount = 4L)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"thresholds at -1 should force the shuffle arm:\n$plan")
      assert(stripped() == sB, "stripBoilerplate diverged under forced shuffle")
      assert(rare() == rB, "rareTokenSignals diverged under forced shuffle")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("rareTokenSignals is partitioning-invariant") {
    val docs = (1L to 80L).map(i => (i, s"common w$i common")).toDF("doc_id", "text")
    val a = PipelineOps.rareTokenSignals(docs, "doc_id", "text", minCount = 3L)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val b = PipelineOps.rareTokenSignals(docs.repartition(13), "doc_id", "text", minCount = 3L)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(a == b && a.nonEmpty)
  }

  test("temperatureSample: budgets follow sqrt(count), small domains upweighted") {
    // big: 900 docs, small: 100 docs. Proportional sampling at n=100
    // would pick 90/10; α=½ gives √900:√100 = 3:1 → 75/25
    val docs = ((1L to 900L).map(i => (i, "big")) ++
      (1001L to 1100L).map(i => (i, "small"))).toDF("doc_id", "source")
    val out = PipelineOps.temperatureSample(docs, "doc_id", "source", n = 100)
      .as[(Long, String, Long)].collect()
    val byDom = out.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byDom("big") == 75 && byDom("small") == 25, s"got $byDom")
    // within-domain ranks are contiguous 1..budget
    assert(out.filter(_._2 == "small").map(_._3).sorted.toSeq == (1L to 25L))
  }

  test("temperatureSample budget caps at the domain's actual count") {
    // tiny domain: √2 share of a large budget would exceed 2 docs
    val docs = ((1L to 200L).map(i => (i, "big")) ++
      Seq((900L, "tiny"), (901L, "tiny"))).toDF("doc_id", "source")
    val out = PipelineOps.temperatureSample(docs, "doc_id", "source", n = 150)
      .as[(Long, String, Long)].collect()
    assert(out.count(_._2 == "tiny") == 2)
  }

  test("unimaxSample: epoch cap binds the tail, remainder flows to the head") {
    // caps at 2 epochs: a → 20, b → 200. Waterfill n=60 over 2 domains:
    // a takes min(20, 60/2) = 20 (2 full epochs, every doc twice);
    // b takes min(200, 40/1) = 40 (0 full epochs, partial = first 40)
    val docs = ((1L to 10L).map(i => (i, "a")) ++
      (101L to 200L).map(i => (i, "b"))).toDF("doc_id", "source")
    val out = PipelineOps.unimaxSample(docs, "doc_id", "source",
      n = 60, maxEpochs = 2L).as[(Long, String, Long)].collect()
    assert(out.length == 60)
    val a = out.filter(_._2 == "a")
    assert(a.length == 20 && a.groupBy(_._1).forall(_._2.length == 2))
    assert(a.map(_._3).sorted.toSeq == Seq.fill(10)(Seq(0L, 1L)).flatten.sorted)
    val b = out.filter(_._2 == "b")
    assert(b.length == 40 && b.map(_._1).distinct.length == 40)
    assert(b.forall(_._3 == 0L))
  }

  test("unimaxSample: uniform split when no cap binds; copies within a domain differ by <= 1") {
    val docs = ((1L to 50L).map(i => (i, "x")) ++
      (101L to 150L).map(i => (i, "y"))).toDF("doc_id", "source")
    val out = PipelineOps.unimaxSample(docs, "doc_id", "source",
      n = 70, maxEpochs = 3L).as[(Long, String, Long)].collect()
    assert(out.length == 70)
    val byDom = out.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byDom("x") == 35 && byDom("y") == 35)
    // partial epochs only: no document repeats
    out.groupBy(r => (r._2, r._1)).values.foreach(c => assert(c.length == 1))
  }

  test("sampler offsets follow UTF-8 binary order, not UTF-16 (astral-plane domains)") {
    // 😀 (U+1F600, surrogate pair 0xD83D 0xDE00) sorts BEFORE ａ
    // (U+FF41) in UTF-16 code units but AFTER it in UTF-8 bytes —
    // Spark's range sort is UTF-8, so offsets built in String order
    // would cross-assign the two domains' ranks
    val emoji = new String(Character.toChars(0x1F600)) + "corp"
    val full = "ａweb"
    val docs = ((1L to 40L).map(i => (i, emoji)) ++
      (101L to 160L).map(i => (i, full))).toDF("doc_id", "source")
    val out = PipelineOps.temperatureSample(docs, "doc_id", "source", n = 50)
      .as[(Long, String, Long)].collect()
    // every rank must be a valid 1-based within-domain rank — a
    // collation mismatch yields negatives or ranks past the domain size
    val byDom = out.groupBy(_._2)
    assert(byDom.keySet == Set(emoji, full))
    byDom.foreach { case (d, rows) =>
      val max = if (d == emoji) 40L else 60L
      assert(rows.forall(r => r._3 >= 1L && r._3 <= max),
        s"$d ranks out of range: ${rows.map(_._3).sorted.toSeq}")
      assert(rows.map(_._3).distinct.length == rows.length)
    }
    // floor budgets: ⌊50·√40/W⌋=22, ⌊50·√60/W⌋=27 (floors drop the
    // remainder, so the total is 49, not n)
    assert(byDom(emoji).length == 22 && byDom(full).length == 27)
  }

  test("assignSplits: every row labeled, stable under corpus growth, fractions roughly hold") {
    val docs = (1L to 2000L).map(i => Tuple1(i)).toDF("doc_id")
    val out = PipelineOps.assignSplits(docs, "doc_id")
      .as[(Long, String)].collect().toMap
    assert(out.size == 2000)
    val byLabel = out.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(byLabel.keySet == Set("train", "val", "test"))
    assert(byLabel("train") > 1700 && byLabel("val") > 40 && byLabel("test") > 40)
    // growth stability: the first 500 docs keep their labels exactly
    // when 1500 more arrive — the eval-contamination guarantee
    val small = PipelineOps.assignSplits(
      (1L to 500L).map(Tuple1(_)).toDF("doc_id"), "doc_id")
      .as[(Long, String)].collect().toMap
    assert(small.forall { case (id, l) => out(id) == l })
    // fractions that don't sum to 1.0 rejected loudly
    intercept[IllegalArgumentException] {
      PipelineOps.assignSplits(docs, "doc_id", Seq("a" -> 0.5, "b" -> 0.25))
    }
  }

  test("samplers reject NULL domain values loudly") {
    val docs = Seq((1L, "a"), (2L, null.asInstanceOf[String]), (3L, "b"))
      .toDF("doc_id", "source")
    val e = intercept[IllegalArgumentException] {
      PipelineOps.temperatureSample(docs, "doc_id", "source", n = 2)
    }
    assert(e.getMessage.contains("NULL"))
  }

  test("unimaxSample is partitioning-invariant") {
    val docs = ((1L to 30L).map(i => (i, "p")) ++
      (201L to 290L).map(i => (i, "q"))).toDF("doc_id", "source")
    def run(d: org.apache.spark.sql.DataFrame) =
      PipelineOps.unimaxSample(d, "doc_id", "source", n = 100, maxEpochs = 2L)
        .as[(Long, String, Long)].collect().toSet
    assert(run(docs) == run(docs.repartition(9)))
  }

  test("temperatureSample is partitioning-invariant (deterministic md5 order)") {
    val docs = ((1L to 300L).map(i => (i, "a")) ++
      (501L to 600L).map(i => (i, "b"))).toDF("doc_id", "source")
    def run(d: org.apache.spark.sql.DataFrame) =
      PipelineOps.temperatureSample(d, "doc_id", "source", n = 80)
        .as[(Long, String, Long)].collect().toSet
    assert(run(docs) == run(docs.repartition(11)))
  }

  // ── priority sampling ────────────────────────────────────────────

  /** The operator's exact uniform, replayed: first 8 md5 hex chars of
    * "id:salt" as an unsigned 32-bit value. */
  private def h32(id: Long, salt: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$id:$salt".getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
  }
  private def prio(id: Long, w: Double, salt: String): Double =
    w / ((h32(id, salt) + 1) / 4294967296.0)

  test("prioritySample matches the brute-force DLT definition per stratum") {
    val salt = "graft-prio"
    val rows = (1L to 200L).map(i => (i, if (i % 2 == 0) "a" else "b",
      (i % 13 + 1).toDouble))
    val df = rows.toDF("id", "stratum", "w")
    val k = 16
    val out = PipelineOps.prioritySample(df, "id", "w", k, Some("stratum"))
      .as[(Long, String, Double, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap

    rows.groupBy(_._2).foreach { case (stratum, g) =>
      val ranked = g.map { case (i, _, w) => (i, w, prio(i, w, salt)) }
        .sortBy { case (i, _, p) => (-p, i) }
      val expTau = ranked(k)._3 // all strata have 100 > k+1 rows
      val kept = out.values.filter(_._2 == stratum)
      assert(kept.size == k)
      ranked.take(k).foreach { case (i, w, p) =>
        val r = out(i)
        assert(r._3 == w && r._4 == p, s"weight/priority for id $i")
        assert(r._5 == expTau, s"tau for id $i in $stratum")
        assert(r._6 == math.max(w, expTau), s"est_weight for id $i")
        assert(p >= expTau)
      }
    }
  }

  test("prioritySample: a stratum with <= k rows keeps all rows, tau 0, est = weight") {
    val df = ((1L to 5L).map(i => (i, "tiny", 2.0)) ++
      (101L to 160L).map(i => (i, "big", 1.0))).toDF("id", "stratum", "w")
    val out = PipelineOps.prioritySample(df, "id", "w", k = 8, Some("stratum"))
      .as[(Long, String, Double, Double, Double, Double)].collect()
    val tiny = out.filter(_._2 == "tiny")
    assert(tiny.length == 5)
    assert(tiny.forall(r => r._5 == 0.0 && r._6 == r._3))
    assert(out.count(_._2 == "big") == 8)
    assert(out.filter(_._2 == "big").forall(r => r._5 > 0.0))
  }

  test("prioritySample: global (unstratified) sample is exactly k rows, partitioning-invariant") {
    val df = (1L to 500L).map(i => (i, (i % 7 + 1).toDouble)).toDF("id", "w")
    def run(d: org.apache.spark.sql.DataFrame) =
      PipelineOps.prioritySample(d, "id", "w", k = 25)
        .as[(Long, Double, Double, Double, Double)].collect().toSet
    val a = run(df)
    assert(a.size == 25)
    assert(a == run(df.repartition(13)))
  }

  test("prioritySample estimator is unbiased: salt-averaged totals approach the true total") {
    // Σ est_weight is unbiased for the stratum total (DLT theorem 1);
    // averaging over 48 independent salts shrinks the spread enough to
    // pin a 5% band. Deterministic — fixed salts, no RNG.
    val rows = (1L to 200L).map(i => (i, (i % 13 + 1).toDouble))
    val truth = rows.map(_._2).sum
    val df = rows.toDF("id", "w")
    val ests = (1 to 48).map { s =>
      PipelineOps.prioritySample(df, "id", "w", k = 16, None, salt = s"u$s")
        .agg(sum("est_weight")).as[Double].head()
    }
    val mean = ests.sum / ests.size
    assert(math.abs(mean - truth) / truth < 0.05,
      s"salt-averaged estimate $mean vs true total $truth")
  }

  // ── span decontamination ─────────────────────────────────────────

  test("decontaminateSpans cuts exactly the covered token positions") {
    val probe = Seq((100L, "alpha beta gamma")).toDF("doc_id", "text")
    val corpus = Seq(
      // 3-gram hit at start 2: tokens 2,3,4 removed
      (1L, "aa bb alpha beta gamma cc dd"),
      // two overlapping hits (starts 0 and 1 share tokens): merged cover
      (2L, "alpha beta gamma alpha beta gamma zz"),
      // fully contaminated: exact probe text
      (3L, "alpha beta gamma"),
      // clean, with messy whitespace to show canonicalization
      (4L, "  hello   world "),
      (5L, "")).toDF("doc_id", "text")
    val out = PipelineOps.decontaminateSpans(corpus, probe, "doc_id", "text", n = 3)
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, "aa bb cc dd", 7L, 3L)))
    // starts 0..3 all match (positions 0-2,1-3,2-4,3-5) → only zz survives
    assert(out(2L) == ((2L, "zz", 7L, 6L)))
    assert(out(3L) == ((3L, "", 3L, 3L)))
    assert(out(4L) == ((4L, "hello world", 2L, 0L)))
    assert(out(5L) == ((5L, "", 0L, 0L)))
  }

  test("decontaminateSpans: interior repeat of a probe gram is excised everywhere") {
    val probe = Seq((1L, "x y")).toDF("doc_id", "text")
    val corpus = Seq((1L, "a x y b x y c")).toDF("doc_id", "text")
    val out = PipelineOps.decontaminateSpans(corpus, probe, "doc_id", "text", n = 2)
      .as[(Long, String, Long, Long)].head()
    assert(out == ((1L, "a b c", 7L, 4L)))
  }

  test("prioritySample rejects non-positive weights loudly") {
    val df = Seq((1L, 1.0), (2L, 0.0), (3L, 2.0)).toDF("id", "w")
    val e = intercept[Exception] {
      PipelineOps.prioritySample(df, "id", "w", k = 2).collect()
    }
    assert(e.getMessage.contains("non-positive") ||
      Option(e.getCause).exists(_.getMessage.contains("non-positive")))
  }

  private def keyness(a: Seq[String], b: Seq[String], k: Int = 100) =
    PipelineOps.corpusKeyness(a.toDF("text"), b.toDF("text"), "text", k)
      .as[(String, Long, Long, Double, Long)].collect()

  test("corpusKeyness: hand-computed 2x2 chi-squared, order, and direction") {
    // A = {x:2, y:1} (total 3), B = {x:1, z:3} (total 4), N = 7
    val out = keyness(Seq("x x y"), Seq("x z z z"))
    assert(out.map(_._1).toSeq == Seq("z", "y", "x"), "chi2 descending")
    val m = out.map(r => r._1 -> r).toMap
    // z: a=0,b=3 -> numer=-9, chi2 = 7*81/((3*4)*(3*4)) = 567/144
    assert(m("z") == (("z", 0L, 3L, 567.0 / 144.0, -1L)))
    // y: a=1,b=0 -> chi2 = 7*16/((1*6)*(3*4)) = 112/72
    assert(m("y") == (("y", 1L, 0L, 112.0 / 72.0, 1L)))
    // x: a=2,b=1 -> numer = 2*3-1*1 = 5, chi2 = 7*25/((3*4)*(3*4))
    assert(m("x") == (("x", 2L, 1L, 175.0 / 144.0, 1L)))
  }

  test("corpusKeyness: proportionally-equal token scores 0 with direction 0; k caps; word tiebreak") {
    // 'w' appears 2/4 in A and 3/6 in B — same proportion, chi2 = 0
    val out = keyness(Seq("w w p q"), Seq("w w w r r s"), k = 2)
    assert(out.length == 2)
    val all = keyness(Seq("w w p q"), Seq("w w w r r s"))
    val w = all.find(_._1 == "w").get
    assert(w._4 == 0.0 && w._5 == 0L)
    // p/q (and r/s within B) are count-symmetric -> equal chi2; the
    // (chi2 DESC, word ASC) order must break those ties by word
    val pq = all.filter(r => r._1 == "p" || r._1 == "q").map(_._1).toSeq
    assert(pq == pq.sorted)
  }

  test("collocations: hand-computed bigram chi-squared, margins, hapax guard") {
    // corpus bigrams: "a b" ×3, "a c" ×1, "d b" ×1 → N=5
    val docs = Seq("a b", "a b", "a b", "a c", "d b").toDF("text")
    val all = PipelineOps.collocations(docs, "text", k = 10, minCount = 1)
      .as[(String, String, Long, Long, Long, Double)].collect()
    val m = all.map(r => (r._1, r._2) -> r).toMap
    // ("a","b"): a=3, n_left=4, n_right=4, N=5 → d = 5-4-4+3 = 0,
    // b = 1, c = 1 → numer = 3*0 - 1*1 = -1 → chi2 = 5*1/((4*1)*(4*1))
    assert(m(("a", "b")) == (("a", "b", 3L, 4L, 4L, 5.0 / 16.0)))
    // minCount filters the hapax pairs but not the margins
    val guarded = PipelineOps.collocations(docs, "text", k = 10, minCount = 2)
      .as[(String, String, Long, Long, Long, Double)].collect()
    assert(guarded.map(r => (r._1, r._2)).toSeq == Seq(("a", "b")))
    assert(guarded.head._4 == 4L, "margins must come from the full pair set")
  }

  test("collocations: planted phrase dominates a generated corpus") {
    // 'new york' always adjacent; filler tokens shuffle independently
    val docs = (0 until 120).map { i =>
      val filler = (0 until 8).map(j => s"t${(i * 7 + j * 13) % 23}")
      (filler.take(4) ++ Seq("new", "york") ++ filler.drop(4)).mkString(" ")
    }.toDF("text")
    val top = PipelineOps.collocations(docs, "text", k = 5)
      .select("w1", "w2").as[(String, String)].head()
    assert(top == (("new", "york")))
  }

  test("topTfidfTerms: rare term outranks common, hand-checked score, k caps per doc") {
    // 'zebra' appears only in doc 1; 'the' in all three docs
    val docs = Seq((1L, "the zebra"), (2L, "the cat"), (3L, "the dog"))
      .toDF("doc_id", "text")
    val out = PipelineOps.topTfidfTerms(docs, "doc_id", "text", k = 2)
      .as[(Long, String, Long, Long, Double, Int)].collect()
    val d1 = out.filter(_._1 == 1L).sortBy(_._6)
    assert(d1.map(_._2).toSeq == Seq("zebra", "the"),
      s"rare term must outrank the stopword: ${d1.toSeq}")
    // zebra: tf=1, df=1, N=3 → 1 · (2.5/1.5)^0.25
    val expect = math.sqrt(math.sqrt((3.0 - 1.0 + 0.5) / 1.5))
    assert(d1.head._5 == expect)
    assert(out.groupBy(_._1).values.forall(_.length <= 2))
  }

  test("corpusKeyness top-k is a TakeOrdered, not a global sort") {
    val plan = PipelineOps.corpusKeyness(Seq("a b").toDF("text"),
        Seq("b c").toDF("text"), "text", 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k plan:\n$plan")
  }
}
