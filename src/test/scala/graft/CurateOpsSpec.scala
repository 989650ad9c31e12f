package graft

import org.apache.spark.sql.functions._
import graft.operators.{NgramLm, QualityFilters, Redaction, SnapshotDiff}

/** Unit coverage for the corpus-governance operators behind
  * [[QueriesCurate]]: repetition metrics, PII redaction, snapshot diff,
  * and n-gram LM scoring — hand-computed expectations on small inputs.
  */
class CurateOpsSpec extends SparkSpec {
  import spark.implicits._

  describe("QualityFilters") {
    it("computes duplicated-2-gram fraction and top share") {
      // "a b a b a" → 2-grams: [a b, b a, a b, b a] → 4 total, 2 distinct
      val df = Seq((1L, "a b a b a"), (2L, "w x y z")).toDF("id", "text")
      val m = QualityFilters.ngramRepetition(df, Seq("id"), "text", 2)
        .orderBy($"id").collect()
      m(0).getInt(1) shouldBe 4              // n_grams (size() is int-typed)
      m(0).getDouble(2) shouldBe 0.5         // dup_frac = 1 - 2/4
      m(0).getDouble(3) shouldBe 0.5         // top_share = 2/4
      m(1).getDouble(2) shouldBe 0.0         // all distinct
      m(1).getDouble(3) shouldBe (1.0 / 3.0) // 3 grams, each once
    }

    it("drops documents shorter than n tokens and matches dupFraction") {
      val df = Seq((1L, "solo"), (2L, "a a a")).toDF("id", "text")
      val m = QualityFilters.ngramRepetition(df, Seq("id"), "text", 2)
      m.count() shouldBe 1L
      val narrow = df.select($"id",
        QualityFilters.dupFraction($"text", 2).as("f")).orderBy($"id").collect()
      assert(narrow(0).isNullAt(1))          // too short → null, not 0
      narrow(1).getDouble(1) shouldBe 0.5    // [a a, a a] → 1 - 1/2
    }

    it("linearScore reduces to exact sigmoid arithmetic on constant weights") {
      def sigmoid(z: Double) = 1.0 / (1.0 + math.exp(-z))
      val df = Seq((1L, "alpha beta gamma")).toDF("id", "text")
      def score(w: Seq[Double], bias: Double, scale: Double): Double =
        df.select(QualityFilters.linearScore($"text", w, bias, scale).as("s"))
          .head().getDouble(0)
      // every bucket weighs 0 → only bias survives the mean pool
      score(Seq.fill(16)(0.0), bias = 0.25, scale = 2.0) shouldBe
        sigmoid(0.25 * 2.0) +- 1e-12
      // every bucket weighs 1 → mean is exactly 1 regardless of hashing
      score(Seq.fill(16)(1.0), bias = -0.5, scale = 3.0) shouldBe
        sigmoid((1.0 - 0.5) * 3.0) +- 1e-12
    }

    it("linearScore indexes the bucket the md5 hash selects") {
      def sigmoid(z: Double) = 1.0 / (1.0 + math.exp(-z))
      val df = Seq((1L, "alpha")).toDF("id", "text")
      // the token's bucket, computed independently of linearScore
      val b = df.select((conv(substring(md5(lit("alpha")), 1, 8), 16, 10)
        .cast("long") % 8).as("b")).head().getLong(0).toInt
      val weights = (0 until 8).map(_.toDouble / 10)
      df.select(QualityFilters.linearScore($"text", weights, 0.0, 1.0).as("s"))
        .head().getDouble(0) shouldBe sigmoid(weights(b)) +- 1e-12
    }

    it("logisticFit learns a linearly-separable corpus to full accuracy") {
      val docs = Tables.documents(spark, "/root/testdata/sf0.001")
        .select($"doc_id", ($"doc_id" % 2).cast("double").as("y"),
          concat($"text", when($"doc_id" % 2 === 1, lit(" qualgood" * 16))
            .otherwise(lit(" qualbad" * 16))).as("text"))
      val (w, b) = QualityFilters.logisticFit(docs, "text", "y",
        dim = 32, epochs = 12, lr = 8.0)
      // the planted tokens' buckets carry the signal, signs opposed
      def bucket(t: String) = Seq(t).toDF("t")
        .select((conv(substring(md5($"t"), 1, 8), 16, 10).cast("long") % 32))
        .head().getLong(0).toInt
      w(bucket("qualgood")) should be > 0.5
      w(bucket("qualbad")) should be < -0.5
      // scoring with the fitted model classifies every doc correctly
      val scored = docs.select($"y",
        QualityFilters.linearScore($"text", w, bias = b, scale = 1.0).as("p"))
      scored.filter(($"p" >= 0.5) =!= ($"y" === 1.0)).count() shouldBe 0L
      // weights sit exactly on the 2^-30 dyadic grid (the replay contract)
      val wq = (1L << 30).toDouble
      (w :+ b).foreach { x => (x * wq) shouldBe math.rint(x * wq) }
    }
  }

  describe("Redaction") {
    it("validates IBANs by mod-97 and redacts only the valid ones") {
      val df = Seq(
        "pay GB82WEST12345698765432 now",          // valid, bare
        "pay DE89 3704 0044 0532 0130 00 now",     // valid, grouped print form
        "pay FR14 2004 1010 0505 0001 3M02 606 x", // valid, letter in body
        "pay GB82 WEST 1234 5698 7654 31 now",     // checksum fails → kept
        "ref AB12INVOICENUMBER9876 now",           // shape match, not an IBAN
        // an UPPERCASE follower must not extend the candidate and make
        // the checksum fail on the widened match (the true IBAN would
        // then escape redaction) — the grouped-form alternation stops
        // at the short tail group
        "to DE89 3704 0044 0532 0130 00 SWIFT DEUTDEFF done",
        "to GB82WEST12345698765432 BICX done"
      ).toDF("t").select(Redaction.redactIbans($"t").as("c"))
      val out = df.collect().map(_.getString(0))
      out(0) shouldBe "pay [IBAN] now"
      out(1) shouldBe "pay [IBAN] now"
      out(2) shouldBe "pay [IBAN] x"
      out(3) should include("GB82 WEST 1234 5698 7654 31")
      out(4) should include("AB12INVOICENUMBER9876")
      out(5) shouldBe "to [IBAN] SWIFT DEUTDEFF done"
      out(6) shouldBe "to [IBAN] BICX done"
    }

    it("redacts full and ::-compressed IPv6, leaving times and dates alone") {
      val df = Seq(
        "node 2001:0db8:85a3:0000:0000:8a2e:0370:7334 up",
        "link fe80::1 and ::ffff:c000:0280 ok",
        "at 12:30:45 on 2024-01-01" // colons/dashes but no ::, no 8 groups
      ).toDF("t").select(Redaction.redactIpv6($"t").as("c"))
      val out = df.collect().map(_.getString(0))
      out(0) shouldBe "node [IPV6] up"
      out(1) shouldBe "link [IPV6] and [IPV6] ok"
      out(2) shouldBe "at 12:30:45 on 2024-01-01"
    }

    it("redacts emails, IPs, and phones in the right order") {
      val raw = "mail bob.smith+x@corp.example.org node 192.168.0.1 tel +44-20-7946-0958 done"
      val out = Seq(raw).toDF("t")
        .select(Redaction.redactPii($"t").as("c")).head().getString(0)
      out shouldBe "mail [EMAIL] node [IP] tel [PHONE] done"
    }

    it("counts tokens and removed characters") {
      val df = Seq("a@b.io and c@d.io here").toDF("t")
        .select($"t", Redaction.redactPii($"t").as("c"))
      df.select(Redaction.tokenCount($"c", Redaction.emailToken))
        .head().getInt(0) shouldBe 2
      // both 6-char emails → two 7-char tokens: removed = 12 - 14 = -2
      df.select(Redaction.charsRemoved($"t", $"c")).head().getInt(0) shouldBe -2
    }

    it("leaves clean text untouched") {
      val clean = "no identifiers in this sentence at all"
      Seq(clean).toDF("t").select(Redaction.redactPii($"t"))
        .head().getString(0) shouldBe clean
    }

    it("redacts mixed-case emails") {
      val raw = "write John.Doe@Example.COM or JANE_99@SUB.Example.Org today"
      Seq(raw).toDF("t").select(Redaction.redactPii($"t"))
        .head().getString(0) shouldBe "write [EMAIL] or [EMAIL] today"
    }

    it("redacts only Luhn-valid card numbers, separators tolerated") {
      val raw = "a 4111111111111111 b 4111-1111-1111-1112 c 5500 0000 0000 0004 " +
        "d 1234567890123456 e 123456789012 f"
      Seq(raw).toDF("t").select(Redaction.redactCards($"t"))
        .head().getString(0) shouldBe
        // valid bare + valid spaced redact; bad check digit, Luhn-failing
        // run, and the 12-digit (too-short) run all survive
        "a [CARD] b 4111-1111-1111-1112 c [CARD] d 1234567890123456 e 123456789012 f"
    }

    it("luhnValid implements the checksum, not a shape test") {
      val cases = Seq(
        ("4111111111111111", true), ("4111111111111112", false),
        ("5500-0000-0000-0004", true), ("378282246310005", true), // 15-digit Amex
        ("1111111111111", false))
      val out = cases.map(_._1).toDF("c")
        .select($"c", Redaction.luhnValid($"c").as("ok"))
        .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
      cases.foreach { case (c, exp) => out(c) shouldBe exp }
    }
  }

  describe("SnapshotDiff") {
    it("classifies added / removed / changed / same with null-safe compare") {
      val old = Seq((1L, Some(10.0)), (2L, Some(20.0)), (3L, None), (4L, Some(40.0)))
        .toDF("k", "v")
      val neu = Seq((1L, Some(10.0)), (2L, Some(25.0)), (3L, Some(30.0)), (5L, Some(50.0)))
        .toDF("k", "v")
      val d = SnapshotDiff.diff(old, neu, Seq("k"), Seq("v"))
        .orderBy($"k").collect()
      d.map(r => (r.getLong(0), r.getString(2))) shouldBe Array(
        (1L, "same"), (2L, "changed"), (3L, "changed"), // null→30 is a change
        (4L, "removed"), (5L, "added"))
      d(1).getDouble(1) shouldBe 25.0 // coalesced new-over-old
      d(3).getDouble(1) shouldBe 40.0 // removed row keeps old value
    }
  }

  describe("IncrementalAgg") {
    it("state ∪ delta merge equals the full recompute") {
      val all = Seq(("a", 1.0), ("a", 2.0), ("b", 3.0), ("a", 4.0), ("b", 5.0))
        .toDF("k", "v")
      val state = operators.IncrementalAgg.partial(all.limit(2), Seq("k"), "v")
      val delta = operators.IncrementalAgg.partial(
        all.exceptAll(all.limit(2)), Seq("k"), "v")
      val merged = operators.IncrementalAgg.finish(
        operators.IncrementalAgg.merge(Seq(state, delta), Seq("k")))
      rowsOf(merged) shouldBe rowsOf(operators.IncrementalAgg.finish(
        operators.IncrementalAgg.partial(all, Seq("k"), "v")))
      merged.filter($"k" === "a").head().getDouble(2) shouldBe 7.0 // total
    }
  }

  describe("Linkage") {
    it("blocks, scores weighted agreements, and thresholds") {
      val left = Seq((1L, "ann", 10, 5.0), (2L, "bob", 10, 9.0), (3L, "cat", 20, 1.0))
        .toDF("id", "name", "blk", "x")
      val right = Seq((1L, "ann", 10, 5.2), (2L, "BOB", 10, 9.0), (4L, "dan", 30, 2.0))
        .toDF("id", "name", "blk", "x")
      val linked = operators.Linkage.link(left, right, Seq("blk"),
        Seq((col("a_name") === col("b_name"), 2.0),
          (abs(col("a_x") - col("b_x")) <= 0.5, 1.0)),
        threshold = 1.0)
      val got = linked.select($"a_id", $"b_id", $"link_score").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // (1,1): name+proximity = 3.0; (2,2): proximity only = 1.0;
      // cross pairs (1,2)/(2,1) agree on nothing; id 3/4 blocks don't meet
      got shouldBe Set((1L, 1L, 3.0), (2L, 2L, 1.0))
    }

    it("prefixes candidate-pair columns a_/b_ in one projection per side") {
      val left = Seq((1L, "ann", 10)).toDF("id", "name", "blk")
      val right = Seq((1L, 10, 5.0)).toDF("id", "blk", "x")
      val pairs = operators.Linkage.candidatePairs(left, right, Seq("blk"))
      pairs.columns.toSeq shouldBe
        Seq("a_id", "a_name", "a_blk", "b_id", "b_blk", "b_x")
      def projects(df: org.apache.spark.sql.DataFrame) = df.queryExecution.analyzed.collect {
        case p: org.apache.spark.sql.catalyst.plans.logical.Project => p
      }.size
      projects(pairs) shouldBe projects(left) + projects(right) + 2
    }
  }

  describe("Normalize.imputeGroupMean") {
    it("fills nulls with the group mean and leaves all-null groups null") {
      val df = Seq(("g1", Some(2.0)), ("g1", None), ("g1", Some(4.0)),
        ("g2", None)).toDF("g", "v")
      val out = operators.Normalize.imputeGroupMean(df, "g", "v")
      out.filter($"v".isNull && $"g" === "g1")
        .head().getAs[Double]("v_filled") shouldBe 3.0
      out.filter($"g" === "g2").head().isNullAt(
        out.columns.indexOf("v_filled")) shouldBe true
    }
  }

  describe("NgramLm") {
    it("extracts char n-grams of normalized text") {
      val g = Seq("AB  cd").toDF("t")
        .select(NgramLm.charNgrams($"t", 3).as("g")).head().getSeq[String](0)
      g shouldBe Seq("ab ", "b c", " cd") // normalized: "ab cd"
      Seq("ab").toDF("t").select(NgramLm.charNgrams($"t", 3))
        .head().getSeq[String](0) shouldBe Seq.empty
    }

    it("fits counts with corpus total and scores ln-probabilities") {
      // corpus "aaab": trigrams aaa, aab → each count 1, total 2
      val docs = Seq((1L, "aaab")).toDF("id", "text")
      val model = NgramLm.fit(docs, "text", 3)
      rowsOf(model.select($"gram", $"c", $"total")) shouldBe Seq(
        Seq("aaa", 1L, 2L), Seq("aab", 1L, 2L))
      val sc = NgramLm.score(docs, Seq("id"), "text", model, 3).head()
      sc.getLong(1) shouldBe 2L // n_grams
      sc.getDouble(2) shouldBe math.log(0.5) +- 1e-12
    }
  }
}
