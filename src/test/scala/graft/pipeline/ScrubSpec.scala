package graft.pipeline

import graft.{Catalog, SparkSpec}

class ScrubSpec extends SparkSpec {

  private def rows(name: String) =
    Catalog.byName(name).build(spark, sf()).collect()

  test("px01: every planted PII instance is found and redacted") {
    val r = rows("px01_pii_redaction")
    assert(r.nonEmpty)
    r.foreach { x =>
      // exactly one of each planted PII kind per document
      assert(x.getLong(1) == 1L, s"emails in doc ${x.getLong(0)}")
      assert(x.getLong(2) == 1L, s"phones in doc ${x.getLong(0)}")
      assert(x.getLong(3) == 1L, s"ips in doc ${x.getLong(0)}")
      assert(x.getString(4).matches("[0-9a-f]{32}"))
    }
  }

  test("px01: the redaction actually removes the PII strings") {
    import org.apache.spark.sql.functions._
    // rebuild the redacted text (not just its md5) and grep it
    val d = graft.Tables(spark, sf()).documents
      .select(col("doc_id"),
        regexp_replace(regexp_replace(regexp_replace(
          concat(col("text"), lit(" reach x"), col("doc_id").cast("string"),
            lit("@example.com or call 555-"),
            (lit(1000L) + col("doc_id") % 9000L).cast("string"),
            lit(" from 10."), (col("doc_id") % 256L).cast("string"),
            lit(".0."), (col("doc_id") % 250L).cast("string"), lit(" end")),
          "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
          "\\b555-[0-9]{4}\\b", "<PHONE>"),
          "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "<IP>").as("t"))
    val bad = d.filter(col("t").contains("@") ||
      col("t").rlike("555-[0-9]") || col("t").rlike("[0-9]+\\.[0-9]+\\.[0-9]+"))
    assert(bad.count() == 0L)
    assert(d.filter(col("t").contains("<EMAIL>") && col("t").contains("<PHONE>") &&
      col("t").contains("<IP>")).count() == d.count())
  }

  test("qf01: verdict is consistent with its own reported measurements") {
    val r = rows("qf01_quality_rules")
    assert(r.nonEmpty)
    r.foreach { x =>
      val (nw, mwl, stop, ttr) =
        (x.getLong(1), x.getDouble(2), x.getLong(3), x.getDouble(4))
      val keep = x.getBoolean(5)
      val reasons = x.getString(6)
      val expect = nw >= 30 && nw <= 400 && mwl >= 3.0 && mwl <= 10.0 &&
        stop >= 2 && ttr >= 0.3
      assert(keep == expect, s"doc ${x.getLong(0)}")
      assert(keep == reasons.isEmpty, s"doc ${x.getLong(0)}: '$reasons'")
      if (nw < 30 || nw > 400) assert(reasons.contains("len;"))
      if (stop < 2) assert(reasons.contains("stop;"))
    }
    // the gate must actually discriminate on this corpus
    assert(r.exists(_.getBoolean(5)) && r.exists(!_.getBoolean(5)))
  }

  test("qf02: fractions bounded, dup mass consistent, within-doc repeats count") {
    val r = rows("qf02_dup_ngram_fraction")
    assert(r.nonEmpty)
    r.foreach { x =>
      val (total, dup, frac) = (x.getLong(1), x.getLong(2), x.getDouble(3))
      assert(total > 0 && dup >= 0 && dup <= total)
      assert(math.abs(frac - dup.toDouble / total) < 1e-12)
      assert(x.getBoolean(4) == (frac >= 0.30))
    }
    // cross-doc duplication exists in this corpus (shared vocabulary)
    assert(r.exists(_.getLong(2) > 0))
  }

  test("qf02 agrees with a tiny hand corpus") {
    import spark.implicits._
    // doc 1 and 2 share the shingle "a b c"; doc 3 shares nothing
    val docs = Seq(
      (1L, "a b c d"), // shingles: "a b c", "b c d"
      (2L, "a b c"), // shingle: "a b c"
      (3L, "x y z w"), // "x y z", "y z w"
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("qf02").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Catalog.byName("qf02_dup_ngram_fraction").build(spark, dir)
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    assert(out(1L) == ((2L, 1L)))
    assert(out(2L) == ((1L, 1L)))
    assert(out(3L) == ((2L, 0L)))
  }

  test("sh01: positions are a permutation, deterministic, and shards balanced") {
    val r = rows("sh01_epoch_shuffle")
    val n = r.length
    assert(n > 0)
    assert(r.map(_.getLong(2)).toSet == (1L to n).toSet)
    // deterministic: same seed ⇒ same order on a re-run
    val again = rows("sh01_epoch_shuffle")
    assert(r.map(x => (x.getLong(0), x.getLong(2))).toSeq ==
      again.map(x => (x.getLong(0), x.getLong(2))).toSeq)
    // round-robin shards differ in size by at most 1
    val sizes = r.groupBy(_.getLong(3)).map(_._2.length)
    assert(sizes.max - sizes.min <= 1)
    // the shuffle actually shuffles: order differs from doc_id order
    val byPos = r.sortBy(_.getLong(2)).map(_.getLong(0)).toSeq
    assert(byPos != byPos.sorted)
  }

  test("bp01: pair counts equal a direct recount on a hand corpus") {
    import spark.implicits._
    val docs = Seq((1L, "ab ab xyz"), (2L, "ab c")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("bp01").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Catalog.byName("bp01_bpe_pair_counts").build(spark, dir)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    // "ab"×3, "xy"×1, "yz"×1; single-char "c" contributes nothing
    assert(out == Map("ab" -> 3L, "xy" -> 1L, "yz" -> 1L))
  }

  test("bp02: three merge rounds reproduce hand-computed BPE on a toy vocab") {
    import spark.implicits._
    // vocab: "abab"×2, "abc"×1 (plus a single-char word that must be inert).
    // chars: a b pairs — round 1: (a,b) count 2·2+1 = 5 → merge "ab";
    // round 2: tokens "ab ab"×2, "ab c": (ab,ab)=2 beats (ab,c)=1 → "abab";
    // round 3: remaining pairs: (ab,c)=1 → "abc"
    val docs = Seq((1L, "abab abc abab x")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("bp02").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Catalog.byName("bp02_bpe_merges").build(spark, dir).collect()
      .map(x => (x.getLong(0), x.getString(1), x.getString(2), x.getString(3), x.getLong(4)))
    assert(out.toSeq == Seq(
      (1L, "a", "b", "ab", 5L),
      (2L, "ab", "ab", "abab", 2L),
      (3L, "ab", "c", "abc", 1L)))
  }

  test("bp02: round count is generic — 5 rounds extend the 3-round prefix") {
    import spark.implicits._
    val docs = Seq((1L, "abab abc abab x abcd abcd xy xy")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("bp02n").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val five = TextAnalysis.trainMergesAt(spark, dir, 5)
    val three = TextAnalysis.trainMergesAt(spark, dir, 3)
    assert(five.length == 5 && five.map(_._1) == Seq(1, 2, 3, 4, 5))
    // asking for more rounds than the vocab can yield stops early (real BPE
    // semantics), never throws on the empty pair universe
    assert(TextAnalysis.trainMergesAt(spark, dir, 50).length < 50)
    // BPE merges are a prefix-stable sequence: more rounds never rewrite
    // earlier winners
    assert(five.take(3) == three)
    // counts never increase across rounds (the winning pair is the argmax of
    // a universe that only shrinks as merges fire)
    assert(five.map(_._5).sliding(2).forall(w => w(0) >= w(1)))
    // and the generated oracle chain mentions exactly the N bests it unrolls
    val ctes = TextAnalysis.bp02TrainCtes(5)
    (1 to 5).foreach(i => assert(ctes.contains(s"b$i AS ")))
    assert(!ctes.contains("b6 AS "))
  }

  test("bp02: driver-local merge loop == distributed loop (r16 fast path)") {
    import spark.implicits._
    // ties on count (abab/xy families), early exhaustion, multi-merge words —
    // both paths must produce the identical merge sequence
    val docs = Seq((1L, "abab abc abab x abcd abcd xy xy zq zq zq"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("bp02eq").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val local = TextAnalysis.trainMergesAt(spark, dir, 6) // the vocab is small: local path
    val dist = TextAnalysis.trainMergesDistributedAt(spark, dir, 6)
    assert(local == dist, s"local $local vs distributed $dist")
  }

  test("bp02: the driver-local argmax breaks count ties in Spark's UTF-8 byte order") {
    import org.apache.spark.sql.functions.{asc, desc}
    import spark.implicits._
    // U+1F600 is a surrogate pair in UTF-16 (D83D DE00), so a Java String
    // sorts it BELOW U+FF21; as UTF-8 bytes (F0 9F 98 80 vs EF BC A1), the
    // order Spark uses, it sorts above
    val rows = Seq(("\uD83D\uDE00", "x", 5L), ("\uFF21", "x", 5L), ("a", "b", 4L))
    val viaSpark = rows.toDF("a", "b", "cnt")
      .orderBy(desc("cnt"), asc("a"), asc("b")).head()
    val ((a, b), c) = TextAnalysis.bestPair(rows.map { case (a, b, c) => ((a, b), c) })
    assert((a, b, c) == ((viaSpark.getString(0), viaSpark.getString(1), viaSpark.getLong(2))))
    assert(a == "\uFF21")
  }

  test("bp02: a winning pair outside [a-z]+ fails loudly (regex-interp guard)") {
    import spark.implicits._
    val docs = Seq((1L, "a1 a1 a1")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("bp02g").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.trainMergesAt(spark, dir, 1)
    }
    assert(e.getMessage.contains("outside [a-z]+"))
  }

  test("bp03: tokenization with the learned merges matches hand BPE") {
    import spark.implicits._
    // same toy as bp02 → merges ab, abab, abc. Tokenized:
    //   "abab" → [abab]        (1 token)
    //   "abc"  → [abc]         (1)
    //   "x"    → [x]           (1; single-char words tokenize even though
    //                           they never train)
    // doc: "abab abc abab x" → ws 4 tokens, bpe 4 tokens
    val docs = Seq((1L, "abab abc abab x", 15L)).toDF("doc_id", "text", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("bp03").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = Catalog.byName("bp03_bpe_tokenize").build(spark, dir).collect()
    assert(r.length == 1)
    assert(r(0).getLong(1) == 4L && r(0).getLong(2) == 4L)
    assert(math.abs(r(0).getDouble(3) - 15.0 / 4) < 1e-12)
    // and on the real corpus BPE must actually compress vs characters:
    // bpe_tokens < chars for every doc (merges fired), >= ws_tokens trivially
    val real = rows("bp03_bpe_tokenize")
    assert(real.length == 500)
    real.foreach { x =>
      assert(x.getLong(2) >= x.getLong(1), s"doc ${x.getLong(0)}: bpe < ws")
      assert(x.getDouble(3) > 1.0, s"doc ${x.getLong(0)}: no compression vs chars")
    }
  }

  test("ck02: token-aware chunks match hand-computed windows on a toy corpus") {
    import spark.implicits._
    // "abab abc x" ×14 → 42 words; bp02's merges (ab, abab, abc) tokenize
    // every word to exactly 1 token, so starts are 0..41. C=32, S=24:
    // chunk 1 = starts [0,32) → 32 words; chunk 2 = starts [24,56) → 18
    // words; words 24..31 sit in both (overlap = 8 = C − S).
    val words = Seq.fill(14)(Seq("abab", "abc", "x")).flatten
    val docs = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("ck02").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = Catalog.byName("ck02_token_chunking").build(spark, dir).collect()
      .map(x => (x.getLong(1), x.getLong(2), x.getLong(3), x.getString(4)))
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(r.toSeq == Seq(
      (1L, 32L, 32L, md5hex(words.take(32).mkString(" "))),
      (2L, 18L, 18L, md5hex(words.slice(24, 42).mkString(" ")))))
  }

  test("ck02: real-corpus chunks are contiguous, bounded, and cover every doc's tokens") {
    val chunks = rows("ck02_token_chunking")
    val totals = rows("bp03_bpe_tokenize")
      .map(x => x.getLong(0) -> x.getLong(2)).toMap
    val byDoc = chunks.groupBy(_.getLong(0))
    assert(byDoc.keySet == totals.keySet, "every document must be chunked")
    byDoc.foreach { case (doc, rs) =>
      val ids = rs.map(_.getLong(1)).sorted
      assert(ids.toSeq == (1L to ids.length), s"doc $doc chunk ids not contiguous")
      // a chunk holds words STARTING inside a 32-token window; the last word
      // may extend past it, so the bound is C + (max word tokens − 1)
      rs.foreach(x => assert(x.getLong(3) <= 32 + 15, s"doc $doc chunk over cap"))
      // overlap can only add tokens relative to the doc's straight count
      assert(rs.map(_.getLong(3)).sum >= totals(doc), s"doc $doc lost tokens")
    }
  }

  test("rp01: projection is linear and norm-bounded (J-L sanity)") {
    val r = rows("rp01_random_projection")
    assert(r.nonEmpty)
    val byVec = r.groupBy(_.getLong(0))
    byVec.foreach { case (_, rs) =>
      assert(rs.map(_.getLong(1)).toSet == (0L to 15L).toSet)
    }
    // ±1 projections: each |p_j| ≤ Σ|x_d| ≤ 64·max|x|; and not all zero
    assert(r.exists(x => math.abs(x.getDouble(2)) > 1e-9))
  }

  test("prof01: profile matches independent per-column recomputes") {
    val r = rows("prof01_column_profile")
      .map(x => x.getString(0) -> x).toMap
    assert(r.keySet == Set("event_type", "props", "user_id", "value"))
    val e = graft.Tables(spark, sf()).events
    val total = e.count()
    import org.apache.spark.sql.functions.col
    r.foreach { case (c, row) =>
      assert(row.getLong(1) == total)
      assert(row.getLong(2) == e.filter(col(c).isNull).count())
      assert(row.getLong(3) ==
        e.filter(col(c).isNotNull).select(c).distinct().count(), s"col $c distincts")
    }
    // numeric columns carry numeric bounds, string columns string bounds
    assert(!r("user_id").isNullAt(4) && r("user_id").isNullAt(6))
    assert(r("event_type").isNullAt(4) && !r("event_type").isNullAt(6))
    assert(r("event_type").getString(6) == "click" && r("event_type").getString(7) == "view")
  }

  test("gd01: delete delta covers exactly the touched groups and the deltas reconcile") {
    import org.apache.spark.sql.functions._
    val r = rows("gd01_gdpr_delete_delta")
    assert(r.nonEmpty)
    val deleted = Seq(7L, 13L, 42L)
    val e = graft.Tables(spark, sf()).events
      .select(to_date(col("ts")).as("d"), col("event_type"), col("user_id"), col("value"))
    // exactly the groups the deleted users touched, no more, no fewer
    val touched = e.filter(col("user_id").isin(deleted: _*))
      .select("d", "event_type").distinct().collect()
      .map(x => (x.getDate(0).toString, x.getString(1))).toSet
    assert(r.map(x => (x.getDate(0).toString, x.getString(1))).toSet == touched)
    // per group: old - new equals the deleted users' own contribution
    val delAgg = e.filter(col("user_id").isin(deleted: _*))
      .groupBy("d", "event_type")
      .agg(count(lit(1)).as("dn"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("dv"))
      .collect()
      .map(x => (x.getDate(0).toString, x.getString(1)) -> (x.getLong(2), x.getDouble(3)))
      .toMap
    r.foreach { x =>
      val k = (x.getDate(0).toString, x.getString(1))
      val (dn, dv) = delAgg(k)
      assert(x.getLong(2) - x.getLong(3) == dn, s"$k row delta")
      assert(math.abs((x.getDouble(4) - x.getDouble(5)) - dv) < 1e-9, s"$k value delta")
    }
  }

  test("vd01: every planted verdict class lands in its bucket and counts reconcile") {
    import spark.implicits._
    // doc ids chosen so each derivation rule fires at least once:
    //   3  -> % 11 == 3            -> not in old            -> added
    //   2  -> % 17 == 2            -> not in new            -> removed
    //   5  -> % 13 == 5            -> old text upper-cased  -> changed
    //   1  -> in both, verbatim                             -> unchanged
    //  19  -> % 17 == 2 AND % 11 == 8 -> removed (second removed case)
    val rows = Seq(
      (1L, "plain text", "en", "web", 10L),
      (2L, "gone in new", "en", "web", 11L),
      (3L, "fresh in new", "en", "books", 12L),
      (5L, "Mixed Case body", "en", "books", 15L),
      (19L, "also gone", "en", "web", 9L))
    val dir = java.nio.file.Files.createTempDirectory("vd01_planted").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = graft.Catalog.byName("vd01_snapshot_diff").build(spark, dir)
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4))).toMap
    assert(r("books") == ((1L, 0L, 1L, 0L)), s"books: ${r("books")}") // added 3, changed 5
    assert(r("web") == ((0L, 2L, 0L, 1L)), s"web: ${r("web")}") // removed 2+19, unchanged 1
    // reconciliation: verdict totals must cover |old ∪ new| exactly
    val total = r.values.map(t => t._1 + t._2 + t._3 + t._4).sum
    assert(total == rows.length, s"verdicts $total != union ${rows.length}")
  }
}
