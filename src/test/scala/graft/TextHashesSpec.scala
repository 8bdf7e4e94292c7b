package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.TextHashes

/** Native TextHashes expressions vs their higher-order-function reference
  * formulations — the HOF forms are the semantics (they passed the DuckDB
  * oracle in round 1); the native forms must match bit-for-bit, including
  * edge cases (empty text, < window chars, empty token arrays). */
class TextHashesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog repeatedly and often"),
    (2L, "tiny"),          // < 16 chars -> min_window_hash NULL
    (3L, ""),              // empty text
    (4L, "exactly sixteen!"), // exactly 16 chars -> one window
    (5L, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaa"), // repeated char windows
    (6L, "punctuation, unicode: café naïve résumé über")
  ).toDF("doc_id", "text")

  test("poly_hash matches the HOF aggregate fold") {
    val got = docs.select(
      TextHashes.poly_hash(col("text")).as("native"),
      expr("aggregate(split(text, ''), 0L, (acc, c) -> (acc * 31 + ascii(c)) % 1000000007)")
        .as("hof")).collect()
    got.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
  }

  test("min_window_hash matches the HOF windowed min, incl. NULL for short text") {
    val got = docs.select(
      TextHashes.min_window_hash(col("text"), 16).as("native"),
      expr("""CASE WHEN length(text) < 16 THEN NULL ELSE
             |array_min(transform(sequence(1, length(text) - 15),
             |  i -> aggregate(split(substring(text, i, 16), ''), 0L,
             |         (acc, c) -> (acc * 31 + ascii(c)) % 1000000007)))
             |END""".stripMargin).as("hof")).collect()
    got.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1), r.toString)
      if (!r.isNullAt(0)) assert(r.getLong(0) == r.getLong(1), r.toString)
    }
  }

  test("simhash60 matches the HOF per-bit majority fold") {
    val got = docs
      .select(col("doc_id"),
        expr("""transform(
               |  CASE WHEN length(trim(text)) = 0 THEN array()
               |       ELSE array_distinct(split(lower(trim(text)), '\\s+')) END,
               |  t -> cast(conv(substring(md5(cast(t as binary)), 1, 15), 16, 10) as bigint))"""
          .stripMargin).as("h60"))
      .select(
        TextHashes.simhash60(col("h60")).as("native"),
        expr("""aggregate(sequence(0, 59), 0L, (acc, j) ->
               | acc + CASE WHEN aggregate(h60, 0L,
               |   (s2, h) -> s2 + CASE WHEN (shiftright(h, j) & 1) = 1 THEN 1 ELSE -1 END) > 0
               | THEN shiftleft(1L, j) ELSE 0L END)""".stripMargin).as("hof"))
      .collect()
    got.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
  }

  test("ngram_distincts matches the HOF zip_with/array_distinct chain") {
    // edge rows: empty array, 1 token, 2 tokens, all-same, mixed repeats
    val rows = Seq(
      (1L, "the quick brown fox jumps over the lazy dog the quick brown"),
      (2L, ""),
      (3L, "one"),
      (4L, "two words"),
      (5L, "same same same same same"),
      (6L, "a b a b a b a b c"),
      (7L, "x y z x y z x y w")
    ).toDF("doc_id", "text")
    val w = when(length(trim(col("text"))) === 0, array().cast("array<string>"))
      .otherwise(split(lower(trim(col("text"))), "\\s+"))
    def bg2(w: org.apache.spark.sql.Column) =
      when(size(w) < 2, array().cast("array<string>"))
        .otherwise(zip_with(slice(w, lit(1), size(w) - 1), slice(w, lit(2), size(w) - 1),
          (a, b) => concat(a, lit(" "), b)))
    def tg3(w: org.apache.spark.sql.Column) =
      when(size(w) < 3, array().cast("array<string>"))
        .otherwise(zip_with(
          zip_with(slice(w, lit(1), size(w) - 2), slice(w, lit(2), size(w) - 2),
            (a, b) => concat(a, lit(" "), b)),
          slice(w, lit(3), size(w) - 2),
          (ab, c) => concat(ab, lit(" "), c)))
    val got = rows.withColumn("w", w)
      .select(
        TextHashes.ngram_distincts(col("w")).as("d"),
        size(array_distinct(col("w"))).cast("long").as("h1"),
        size(array_distinct(bg2(col("w")))).cast("long").as("h2"),
        size(array_distinct(tg3(col("w")))).cast("long").as("h3"))
      .select(col("d.d_tok"), col("d.d_2g"), col("d.d_3g"),
        col("h1"), col("h2"), col("h3"))
      .collect()
    got.foreach { r =>
      assert(r.getLong(0) == r.getLong(3), s"d_tok: $r")
      assert(r.getLong(1) == r.getLong(4), s"d_2g: $r")
      assert(r.getLong(2) == r.getLong(5), s"d_3g: $r")
    }
  }

  test("ngram_distincts parity on the real corpus (codegen path)") {
    val d = Tables(spark, sf("sf0.001"), "documents")
    val w = when(length(trim(col("text"))) === 0, array().cast("array<string>"))
      .otherwise(split(lower(trim(col("text"))), "\\s+"))
    val df = d.withColumn("w", w)
      .select(col("doc_id"), TextHashes.ngram_distincts(col("w")).as("nd"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ngram_distincts") && plan.contains("*(1) Project"),
      s"no codegen span:\n$plan")
    def tg3(w: org.apache.spark.sql.Column) =
      when(size(w) < 3, array().cast("array<string>"))
        .otherwise(zip_with(
          zip_with(slice(w, lit(1), size(w) - 2), slice(w, lit(2), size(w) - 2),
            (a, b) => concat(a, lit(" "), b)),
          slice(w, lit(3), size(w) - 2),
          (ab, c) => concat(ab, lit(" "), c)))
    val hof = d.withColumn("w", w)
      .select(col("doc_id"),
        size(array_distinct(col("w"))).cast("long").as("h1"),
        size(array_distinct(tg3(col("w")))).cast("long").as("h3"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    df.select(col("doc_id"), col("nd.d_tok"), col("nd.d_3g")).collect().foreach { r =>
      val (h1, h3) = hof(r.getLong(0))
      assert(r.getLong(1) == h1 && r.getLong(2) == h3, r.toString)
    }
  }

  test("expressions stay inside whole-stage codegen (and doGenCode = eval)") {
    // parquet-backed input: a local Seq collapses to a LocalRelation at
    // optimization time (ConvertToLocalRelation), which would bypass codegen
    val d = Tables(spark, sf("sf0.001"), "documents")
    val df = d.select(col("doc_id"),
      TextHashes.poly_hash(col("text")).as("a"),
      TextHashes.min_window_hash(col("text"), 16).as("b"))
    val plan = df.queryExecution.executedPlan.toString
    // '*(n)' prefixes mark operators inside a WholeStageCodegen span
    assert(plan.contains("*(1) Project") && plan.contains("poly_hash"),
      s"no codegen span:\n$plan")
    // codegen'd results equal the HOF reference on real data
    val hof = d.select(col("doc_id"),
      expr("aggregate(split(text, ''), 0L, (acc, c) -> (acc * 31 + ascii(c)) % 1000000007)")
        .as("a")).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    df.collect().foreach(r => assert(r.getLong(1) == hof(r.getLong(0))))
  }

  test("minhash_shingles matches the HOF minhashBase bit-for-bit (real corpus + edges)") {
    // the HOF form IS the semantics (it passed the DuckDB oracle since r1);
    // the native pass must agree on hs AND sig for every doc, row count
    // included (the size(t) >= 3 gate vs the old size(w) > 0 gate)
    val docs = Tables(spark, sf("sf0.001"), "documents")
    val native = graft.queries.Dedup.minhashBase(docs)
    val hof = HofForms.minhashBase(docs)
    try {
      val n = native.select(col("doc_id"), col("hs"), col("sz").cast("long"), col("sig"))
        .collect().map(r => r.getLong(0) ->
          ((r.getSeq[Long](1), r.getLong(2), r.getSeq[Long](3)))).toMap
      val h = hof.select(col("doc_id"), col("hs"), col("sz").cast("long"), col("sig"))
        .collect().map(r => r.getLong(0) ->
          ((r.getSeq[Long](1), r.getLong(2), r.getSeq[Long](3)))).toMap
      assert(n.keySet == h.keySet, "row sets differ")
      assert(n.nonEmpty)
      n.foreach { case (id, (hs, sz, sig)) =>
        val (hhs, hsz, hsig) = h(id)
        assert(hs == hhs, s"hs differs for doc $id")
        assert(sz == hsz, s"sz differs for doc $id")
        assert(sig == hsig, s"sig differs for doc $id")
      }
    } finally { native.unpersist(); hof.unpersist() }
    // edge rows through both forms: empty, < 3 tokens, exactly 3, repeats,
    // unicode, whitespace-only, NULL text
    import spark.implicits._
    val edges = Seq(
      (1L, "a b c"), (2L, "a b"), (3L, ""), (4L, "   "),
      (5L, "a b c d e f g"), (6L, "same same same same"),
      (7L, "café naïve über straße 日本 語 テスト"),
      (8L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val ne = graft.queries.Dedup.minhashBase(edges)
    val he = HofForms.minhashBase(edges)
    try {
      val a = ne.orderBy("doc_id").collect().map(_.toString).toSeq
      val b = he.orderBy("doc_id").collect().map(_.toString).toSeq
      assert(a == b, s"edge rows differ:\n$a\n$b")
    } finally { ne.unpersist(); he.unpersist() }
  }

  test("minhash_shingles stays inside whole-stage codegen") {
    val d = Tables(spark, sf("sf0.001"), "documents")
    val t = when(length(trim(col("text"))) === 0, array().cast("array<string>"))
      .otherwise(split(lower(trim(col("text"))), "\\s+"))
    val df = d.select(col("doc_id"),
      TextHashes.minhash_shingles(t, Seq(3L, 5L), Seq(1L, 2L), 2147483647L).as("m"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("minhash_shingles") && plan.contains("*(1) Project"),
      s"no codegen span:\n$plan")
    // NULL token elements: one null shingle element, sorted last, sig
    // unaffected (least(m, NULL) = m in the HOF fold)
    import spark.implicits._
    val weird = Seq(Tuple1(Seq("a", null, "b", "c", "d"))).toDF("t")
    val got = weird.select(TextHashes.minhash_shingles(
      col("t"), Seq(3L), Seq(1L), 2147483647L).as("m")).selectExpr(
      "m.hs AS hs", "m.sig AS sig").collect().head
    val hs = got.getSeq[Any](0)
    assert(hs.last == null && hs.init.forall(_ != null),
      s"null shingle not sorted last: $hs")
    // the two non-null shingles: ("b","c","d") only — ("a",null,"b") and
    // (null,"b","c") are null; actually ("a",null,...)->null, (null,"b","c")
    // ->null, ("b","c","d") non-null => 1 non-null hash + 1 null
    assert(hs.size == 2, s"expected 1 hash + null: $hs")
  }

  test("hashed_ngrams matches the HOF hashedNgrams8 bit-for-bit (order included)") {
    // real corpus: values AND element order (array_distinct keeps first
    // occurrence) must agree — consumers only explode/size, but exact
    // parity keeps even a future element_at consumer safe
    val docs = Tables(spark, sf("sf0.001"), "documents")
    val both = docs.select(col("doc_id"),
      graft.queries.TrainPrep.hashedNgrams8(col("text")).as("native"),
      HofForms.hashedNgrams8(col("text")).as("hof"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.isNullAt(1) == r.isNullAt(2), s"nullness differs: $r")
      if (!r.isNullAt(1))
        assert(r.getSeq[Long](1) == r.getSeq[Long](2),
          s"ngram hashes differ for doc ${r.getLong(0)}")
    }
    // edges: empty text, < 8 tokens, exactly 8, repeats (distinct order),
    // unicode, NULL text
    import spark.implicits._
    val edges = Seq(
      (1L, "a b c d e f g h"), (2L, "a b c"), (3L, ""), (4L, "   "),
      (5L, "a b c d e f g h i j k"),
      (6L, "x x x x x x x x x x"), // repeated grams -> one distinct
      (7L, "café naïve über a b c d e f"),
      (8L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = edges.select(col("doc_id"),
      graft.queries.TrainPrep.hashedNgrams8(col("text")).as("native"),
      HofForms.hashedNgrams8(col("text")).as("hof"))
      .collect()
    got.foreach { r =>
      assert(r.isNullAt(1) == r.isNullAt(2), s"nullness differs: $r")
      if (!r.isNullAt(1))
        assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"differ: $r")
    }
  }

  test("hashed_ngrams_seq matches the positional HOF transform (12-token windows)") {
    val W = 12
    def grams(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      (2 to W).foldLeft(slice(c, lit(1), size(c) - (W - 1))) { (acc, k) =>
        zip_with(acc, slice(c, lit(k), size(c) - (W - 1)),
          (a, b) => concat(a, lit(" "), b))
      }
    val hofHash = (g: org.apache.spark.sql.Column) =>
      (conv(substring(md5(g.cast("binary")), 1, 8), 16, 10).cast("long") % 2147483647L)
    val docs = Tables(spark, sf("sf0.001"), "documents")
      .withColumn("w", graft.queries.TrainPrep.rawToks(col("text")))
      .filter(size(col("w")) >= W)
    val both = docs.select(col("doc_id"),
      TextHashes.hashed_ngrams_seq(col("w"), W, 2147483647L).as("native"),
      transform(grams(col("w")), g => hofHash(g)).as("hof")).collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2),
        s"window hashes differ for doc ${r.getLong(0)}")
    }
    // edges: exactly W tokens, < W tokens (empty), NULL array
    import spark.implicits._
    val edges = Seq(
      Tuple1(Seq.fill(W)("tok")), Tuple1(Seq("a", "b")),
      Tuple1(null.asInstanceOf[Seq[String]])).toDF("w")
    val got = edges.select(
      TextHashes.hashed_ngrams_seq(col("w"), W, 2147483647L).as("n")).collect()
    assert(got(0).getSeq[Long](0).size == 1)
    assert(got(1).getSeq[Long](0).isEmpty)
    assert(got(2).isNullAt(0))
  }

  test("chunk_join matches the indexed-transform concat_ws chain") {
    val hof = expr("concat_ws('\\n\\n', transform(" +
      "sequence(0, CAST((size(w) + 9) div 10 AS INT) - 1), " +
      "i -> concat_ws(' ', slice(w, i * 10 + 1, 10))))")
    // real corpus tokens (and ragged-chunk edges below)
    val docs = Tables(spark, sf("sf0.001"), "documents")
      .withColumn("w", graft.queries.TrainPrep.rawToks(col("text")))
      .filter(size(col("w")) > 0)
    val both = docs.select(col("doc_id"),
      TextHashes.chunk_join(col("w"), 10, "\n\n").as("native"), hof.as("hof"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getString(1) == r.getString(2),
      s"chunk text differs for doc ${r.getLong(0)}"))
    import spark.implicits._
    val edges = Seq(
      Tuple1(Seq("a")), Tuple1((1 to 10).map(_.toString)),
      Tuple1((1 to 11).map(_.toString)), Tuple1((1 to 25).map(_.toString)))
      .toDF("w")
    val got = edges.select(
      TextHashes.chunk_join(col("w"), 10, "\n\n").as("n"), hof.as("h")).collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1), r.toString))
  }

  test("hashed_ngrams_uniq matches transform(array_distinct(shingles), tokHash)") {
    def tg3(w: org.apache.spark.sql.Column) =
      when(size(w) < 3, array().cast("array<string>"))
        .otherwise(zip_with(
          zip_with(slice(w, lit(1), size(w) - 2), slice(w, lit(2), size(w) - 2),
            (a, b) => concat(a, lit(" "), b)),
          slice(w, lit(3), size(w) - 2),
          (ab, c) => concat(ab, lit(" "), c)))
    val hof = (w: org.apache.spark.sql.Column) =>
      transform(array_distinct(tg3(w)), g =>
        conv(substring(md5(g.cast("binary")), 1, 8), 16, 10).cast("long") % 2147483647L)
    val docs = Tables(spark, sf("sf0.001"), "documents")
      .select(col("doc_id"),
        split(lower(trim(col("text"))), "\\s+").as("t"))
      .filter(size(col("t")) >= 3)
    val both = docs.select(col("doc_id"),
      TextHashes.hashed_ngrams_uniq(col("t"), 3, 2147483647L).as("native"),
      hof(col("t")).as("hof")).collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getSeq[Long](1) == r.getSeq[Long](2),
      s"distinct-gram hashes differ for doc ${r.getLong(0)}"))
    // repeats: the distinct keeps first occurrence, duplicates collapse
    import spark.implicits._
    val edges = Seq(Tuple1(Seq("a", "b", "a", "b", "a", "b")),
      Tuple1(Seq("x", "y")), Tuple1(Seq("s", "s", "s", "s")))
      .toDF("t")
    val got = edges.select(
      TextHashes.hashed_ngrams_uniq(col("t"), 3, 2147483647L).as("n"),
      hof(col("t")).as("h")).collect()
    got.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1), r.toString))
  }

  test("sorted_intersect_size matches size(array_intersect) on sorted sets") {
    // real-corpus shingle-hash sets (the actual verify-join operand) plus
    // adversarial edges: empty, disjoint, identical, subset
    val d = Tables(spark, sf("sf0.001"), "documents")
      .selectExpr("doc_id",
        "array_sort(array_distinct(transform(split(lower(trim(text)), '\\\\s+'), " +
          "t -> CAST(conv(substring(md5(CAST(t AS BINARY)), 1, 8), 16, 10) AS BIGINT)))) AS hs")
    // SQL-surface + codegen path over a parquet-backed self-join
    d.createOrReplaceTempView("sis_docs")
    val rows = spark.sql(
      """SELECT a.doc_id, b.doc_id,
        |  sorted_intersect_size(a.hs, b.hs) AS native,
        |  size(array_intersect(a.hs, b.hs)) AS builtin
        |FROM sis_docs a JOIN sis_docs b ON a.doc_id < b.doc_id AND b.doc_id < 40
        |""".stripMargin).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getInt(2) == r.getInt(3),
      s"pair (${r.getLong(0)}, ${r.getLong(1)}): native ${r.getInt(2)} != builtin ${r.getInt(3)}"))
    // edges via the interpreted path
    import spark.implicits._
    val edges = Seq(
      (Seq.empty[Long], Seq(1L, 2L)), (Seq(1L, 3L, 5L), Seq(2L, 4L, 6L)),
      (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)), (Seq(2L, 3L), Seq(1L, 2L, 3L, 4L)))
      .toDF("a", "b")
    val got = edges.select(TextHashes.sorted_intersect_size(col("a"), col("b")))
      .collect().map(_.getInt(0)).toSeq
    assert(got == Seq(0, 0, 3, 2))
  }
}
