package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Native kernels (graft.plans, called through StaticInvoke) must
  * produce the exact values of the higher-order formulations they
  * replaced — same fold order, same modulus — on the real corpus. */
class ExpressionsSpec extends SparkSpecBase {
  import spark.implicits._

  test("PolyHash == aggregate/split fold on every document") {
    val diff = Tables.documents(spark, sf)
      .select(
        functions.Text.polyHash(col("text")).as("native"),
        functions.Text.polyHashFold(col("text")).as("fold"))
      .filter(col("native") =!= col("fold")).count()
    assert(diff == 0)
  }

  test("DotProduct == aggregate/zip_with fold on every embedding pair sample") {
    val e = Tables.embeddings(spark, sf).limit(50)
    val pairs = e.as("l").join(e.as("r"),
      col("l.vec_id") < col("r.vec_id"))
    val diff = pairs.select(
        functions.Similarity.dot(col("l.embedding"), col("r.embedding")).as("native"),
        functions.Similarity.dotFold(col("l.embedding"), col("r.embedding")).as("fold"))
      .filter(col("native") =!= col("fold")).count()
    assert(diff == 0)
  }

  test("SQL registration: graft_poly_hash / graft_dot callable from spark.sql") {
    plans.GraftFunctions.register(spark)
    val h = spark.sql("SELECT graft_poly_hash('ab') AS h").as[Long].head()
    assert(h == 3105L) // (0*31+97)*31+98
    val d = spark.sql(
      "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .as[Double].head()
    assert(d == 11.0)
    // the SQL functions are built by the column functions, so the same
    // input casts apply: float arrays widen to double, numbers become
    // their strings
    val f = spark.sql(
      "SELECT graft_dot(array(1.0F, 2.0F), array(3.0F, 4.0F)) AS d")
      .as[Double].head()
    assert(f == 11.0)
    assert(spark.sql("SELECT graft_poly_hash(12) AS h").as[Long].head()
      == spark.sql("SELECT graft_poly_hash('12') AS h").as[Long].head())
    val emb = Tables.embeddings(spark, sf)
    emb.createOrReplaceTempView("embeddings")
    val viaSql = spark.sql(
      "SELECT vec_id, graft_dot(embedding, embedding) AS d FROM embeddings")
    val viaApi = emb.select(col("vec_id"),
      functions.Similarity.dot(col("embedding"), col("embedding")).as("d"))
    val joined = viaSql.as("s").join(viaApi.as("a"), "vec_id")
    assert(joined.count() == viaApi.count() && viaApi.count() > 0)
    assert(joined.filter(!(col("s.d") <=> col("a.d"))).count() == 0)
    // graft_shingles is the column function too: a null doc gives []
    assert(spark.sql("SELECT graft_shingles(split('a b c d', ' ')) AS s")
      .head().getSeq[String](0) == Seq("a b c", "b c d"))
    assert(spark.sql(
      "SELECT graft_shingles(CAST(NULL AS array<string>), 2) AS s")
      .head().getSeq[String](0).isEmpty)
  }

  test("SQL aggregates: graft_minhash / graft_simhash64 == API forms") {
    plans.GraftFunctions.register(spark)
    functions.Dedup.tokenCountsOf(Tables.documents(spark, sf))
      .createOrReplaceTempView("v_tok")
    val viaSql = spark.sql(
      "SELECT doc_id, graft_simhash64(h, cnt) AS sig FROM v_tok GROUP BY doc_id")
      .select(col("doc_id"), col("sig")(0), col("sig")(1), col("sig")(2), col("sig")(3))
      .collect().map(_.toString).toSet
    val viaApi = functions.Dedup.simhash64SigOf(
        functions.Dedup.tokenCountsOf(Tables.documents(spark, sf)))
      .collect().map(_.toString).toSet
    assert(viaSql == viaApi && viaApi.nonEmpty)
    val mh = spark.sql(
      "SELECT graft_minhash(h, 8) AS sig FROM v_tok").head.getSeq[Long](0)
    assert(mh.length == 8 && mh.forall(_ >= 0))
  }

  test("PolyHash iterates code points, not UTF-16 units (non-BMP parity)") {
    // U+1F415 DOG is a surrogate pair in UTF-16; DuckDB's
    // unicode(string_split(...)) folds over the single code point
    // 128021, so the Spark side must too — one fold step, not two
    val dog = new String(Character.toChars(0x1F415))
    assert(plans.PolyHash.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(dog))
      == 128021L % 1000000007L)
    // mixed string: 'a' then the dog — (0*31+97)*31+128021 mod P
    val mixed = "a" + dog
    assert(plans.PolyHash.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(mixed))
      == (97L * 31 + 128021L) % 1000000007L)
  }

  test("PolyHash participates in whole-stage codegen (no fallback)") {
    val plan = Tables.documents(spark, sf)
      .select(functions.Text.polyHash(col("text")))
      .queryExecution.executedPlan.toString
    // the "*(n)" prefix marks operators inside a WholeStageCodegen span
    assert(plan.matches("(?s).*\\*\\(\\d+\\) Project \\[" +
      "static_invoke\\(graft\\.plans\\.PolyHash\\.hash.*"), plan)
  }

  test("Shingles == array_distinct/transform formulation on every document") {
    val t = "split(text, ' ')"
    val oldForm = expr(
      s"""CASE WHEN size($t) >= 3 THEN
         |  array_distinct(transform(
         |    sequence(0, size($t) - 3),
         |    i -> concat_ws(' ', element_at($t, i + 1),
         |                        element_at($t, i + 2),
         |                        element_at($t, i + 3))))
         |ELSE array() END""".stripMargin)
    val diff = Tables.documents(spark, sf)
      .select(functions.Dedup.shingles("text").as("nat"), oldForm.as("old"))
      .filter(col("nat") =!= col("old")).count()
    assert(diff == 0)
  }

  test("Shingles participates in whole-stage codegen (no fallback)") {
    val plan = Tables.documents(spark, sf)
      .select(functions.Dedup.shingles("text"))
      .queryExecution.executedPlan.toString
    // null-coalesce wrapper sits outside the call in the plan string
    assert(plan.matches("(?s).*\\*\\(\\d+\\) Project \\[.*" +
      "static_invoke\\(graft\\.plans\\.Shingles\\.shingle.*"), plan)
  }

  test("DotProduct participates in whole-stage codegen (no fallback)") {
    val plan = Tables.embeddings(spark, sf)
      .select(functions.Similarity.dot(col("embedding"), col("embedding")))
      .queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*\\*\\(\\d+\\) Project \\[" +
      "static_invoke\\(graft\\.plans\\.DotProduct\\.dot.*"), plan)
  }

  test("TextEntropyStats == split/array_sort/aggregate fold on every document") {
    // exact double equality on the UNROUNDED fold sum: the native
    // expression must replay the fold's accumulation order and LOG2
    // arithmetic bit-for-bit, not merely agree after round(4)
    val nat = Tables.documents(spark, sf)
      .select(col("doc_id"),
        plans.GraftFunctions.text_entropy_stats(col("text")).as("st"))
      .select(col("doc_id"), col("st.n_chars").as("n_chars"),
        col("st.n_distinct").as("n_distinct"), col("st.s").as("s"))
    val fold = functions.Signals.textEntropyStatsFold(
      Tables.documents(spark, sf))
    val joined = nat.as("n").join(fold.as("f"), Seq("doc_id"))
    assert(joined.count() > 0)
    val diff = joined.filter(
      col("n.n_chars") =!= col("f.n_chars") ||
        col("n.n_distinct") =!= col("f.n_distinct") ||
        col("n.s") =!= col("f.s")).count()
    assert(diff == 0)
  }

  test("TextEntropyStats edge cases: empty text, one char, runs, non-BMP") {
    val docs = Seq(
      (1L, ""), (2L, "a"), (3L, "aaaa"), (4L, "abab"),
      (5L, "🐕🐕x"), // U+1F415 DOG twice + x
      (6L, "zyx")).toDF("doc_id", "text")
    val nat = docs.select(col("doc_id"),
        plans.GraftFunctions.text_entropy_stats(col("text")).as("st"))
      .select(col("doc_id"), col("st.n_chars").as("n_chars"),
        col("st.n_distinct").as("n_distinct"), col("st.s").as("s"))
    val fold = functions.Signals.textEntropyStatsFold(docs)
    val diff = nat.as("n").join(fold.as("f"), Seq("doc_id"))
      .filter(col("n.n_chars") =!= col("f.n_chars") ||
        col("n.n_distinct") =!= col("f.n_distinct") ||
        col("n.s") =!= col("f.s")).count()
    assert(diff == 0)
    // the empty-string quirk is pinned: split('','') = [''] so
    // n_chars = n_distinct = 1 and s = 0
    val empty = nat.filter(col("doc_id") === 1L).head()
    assert(empty.getLong(1) == 1L && empty.getLong(2) == 1L &&
      empty.getDouble(3) == 0.0)
  }

  test("BigramHashes == explode(bigramStructs) + concat_ws + poly_hash " +
    "on every document") {
    val t = functions.Text.toks(col("text"))
    val nat = Tables.documents(spark, sf)
      .select(col("doc_id"),
        plans.GraftFunctions.ngram_hashes(t, 2).as("hs"))
      .select(col("doc_id"), explode(col("hs")).as("h"))
    val old = Tables.documents(spark, sf)
      .select(col("doc_id"),
        explode(functions.Text.bigramStructs(t)).as("bg"))
      .select(col("doc_id"),
        functions.Text.polyHash(
          concat_ws(" ", col("bg.w1"), col("bg.w2"))).as("h"))
    assert(nat.count() == old.count() && nat.count() > 0)
    assert(nat.exceptAll(old).count() == 0 && old.exceptAll(nat).count() == 0)
    // <2-token guard: one token and empty text both yield zero bigrams
    val edge = Seq((1L, "solo"), (2L, "")).toDF("doc_id", "text")
    assert(edge.select(explode(plans.GraftFunctions.ngram_hashes(
      functions.Text.toks(col("text")), 2))).count() == 0)
  }

  test("Quantize20 + TriangleProducts == the transform/zip_with scatter " +
    "spelling on every embedding") {
    val emb = Tables.embeddings(spark, sf)
    val qOld = emb.select(col("vec_id"),
      expr("transform(embedding, v -> CAST(FLOOR(CAST(v AS DOUBLE)" +
        " * 1048576) AS BIGINT))").as("q"))
    val qNat = emb.select(col("vec_id"),
      plans.GraftFunctions.quantize20(col("embedding")).as("q"))
    assert(qNat.as("n").join(qOld.as("o"), Seq("vec_id"))
      .filter(col("n.q") =!= col("o.q")).count() == 0)
    // full scatter matrices over the corpus must agree cell by cell
    val oldScatter = {
      val means = qOld
        .select(posexplode(col("q")).as(Seq("i", "v")))
        .groupBy("i").agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .select(col("i"),
          expr("CAST(FLOOR(CAST(s AS DOUBLE) / n) AS BIGINT)").as("mb"))
        .agg(expr("transform(array_sort(collect_list(struct(i, mb)))," +
          " x -> x.mb)").as("mbs"))
      qOld.crossJoin(broadcast(means))
        .select(expr("zip_with(q, mbs, (v, m) -> v - m)").as("c"))
        .select(posexplode(col("c")).as(Seq("i", "ci")), col("c"))
        .select(col("i"), explode(expr(
          "transform(sequence(i, size(c) - 1), j -> struct(j AS j," +
            " ci * element_at(c, j + 1) AS p))")).as("jp"))
        .groupBy(col("i").cast("long").as("i"),
          col("jp.j").cast("long").as("j"))
        .agg(sum(col("jp.p")).as("s"))
    }
    val newScatter = functions.Signals.featPcaScatterOn(emb)
    assert(newScatter.count() == oldScatter.count() && newScatter.count() > 0)
    assert(newScatter.exceptAll(oldScatter).count() == 0)
  }

  test("NgramHashes == transform/concat_ws/poly_hash on every document " +
    "(window 8 and 3)") {
    for (n <- Seq(8, 3)) {
      val t = split(col("text"), " ")
      val nat = Tables.documents(spark, sf)
        .select(col("doc_id"), posexplode(
          plans.GraftFunctions.ngram_hashes(t, n)))
        .select(col("doc_id"), col("pos"), col("col").as("h"))
      val old = Tables.documents(spark, sf)
        .select(col("doc_id"), col("text"), t.as("t"))
        .select(col("doc_id"), posexplode(expr(
          s"CASE WHEN size(t) >= $n THEN" +
            s" transform(sequence(0, size(t) - $n)," +
            s" i -> concat_ws(' ', slice(t, i + 1, $n)))" +
            " ELSE array() END")))
        .select(col("doc_id"), col("pos"),
          functions.Text.polyHash(col("col")).as("h"))
      assert(nat.count() == old.count() && nat.count() > 0, s"n=$n")
      assert(nat.exceptAll(old).count() == 0 &&
        old.exceptAll(nat).count() == 0, s"n=$n")
    }
  }

  test("PhashSig + ArrayHamming == the transform/aggregate column " +
    "spelling on every document") {
    val Pix = 60
    val BandBits = 15
    val oldSig = Tables.documents(spark, sf)
      .filter(length(col("text")) >= 1)
      .select(col("doc_id"), col("text"), length(col("text")).as("n"))
      .withColumn("parr", expr(
        s"""transform(sequence(0, ${Pix - 1}), i ->
           |  CAST(ascii(substring(text,
           |    CAST(1 + (i * (n - 1)) div ${Pix - 1} AS INT), 1))
           |  AS BIGINT))""".stripMargin))
      .withColumn("avgp", expr(
        s"aggregate(parr, CAST(0 AS BIGINT), (a, x) -> a + x) div $Pix"))
      .withColumn("bits", expr(
        "transform(parr, x -> CASE WHEN x > avgp THEN CAST(1 AS BIGINT)" +
          " ELSE CAST(0 AS BIGINT) END)"))
      .withColumn("bandv", expr(
        s"""transform(sequence(0, 3), b ->
           |  aggregate(slice(bits, b * $BandBits + 1, $BandBits),
           |    named_struct('s', CAST(0 AS BIGINT), 'j', 0),
           |    (st, x) -> named_struct(
           |      's', st.s + x * CAST(power(2, st.j) AS BIGINT),
           |      'j', st.j + 1),
           |    st -> st.s))""".stripMargin))
      .select(col("doc_id"), col("bits"), col("bandv"))
    val natSig = Tables.documents(spark, sf)
      .filter(length(col("text")) >= 1)
      .select(col("doc_id"),
        plans.GraftFunctions.phash_sig(col("text")).as("ps"))
      .select(col("doc_id"), col("ps.bits").as("bits"),
        col("ps.bands").as("bandv"))
    val j = natSig.as("n").join(oldSig.as("o"), Seq("doc_id"))
    assert(j.count() > 0)
    assert(j.filter(col("n.bits") =!= col("o.bits") ||
      col("n.bandv") =!= col("o.bandv")).count() == 0)
    // Hamming: native == zip_with fold on a self-pair sample
    val sample = natSig.limit(40)
    val pairs = sample.as("a").join(sample.as("b"),
      col("a.doc_id") < col("b.doc_id"))
    val hd = pairs.select(
      plans.GraftFunctions.array_hamming(col("a.bits"), col("b.bits"))
        .as("nat"),
      expr("""aggregate(zip_with(a.bits, b.bits, (x, y) ->
             |  IF(x <> y, CAST(1 AS BIGINT), CAST(0 AS BIGINT))),
             |  CAST(0 AS BIGINT), (a, x) -> a + x)""".stripMargin).as("old"))
    assert(hd.filter(col("nat") =!= col("old")).count() == 0)
  }

  test("Node2vecDraw: hand graph replays the groupBy/fold draw arithmetic") {
    // cur = 10 with sorted nbrs [1, 5, 20]; prev = 5, prev's nbrs
    // [1, 10]: weights are 1 -> common(2), 5 -> return(1), 20 ->
    // forward(4); tot = 7, prefix sums [2, 3, 7]
    val df = Seq((Array(1L, 5L, 20L), Array(1L, 10L), 5L))
      .toDF("cur_nbrs", "prev_nbrs", "prev")
    def drawWith(rbase: Long): Long = df.select(
      plans.GraftFunctions.n2v_draw(col("cur_nbrs"), col("prev_nbrs"),
        col("prev"), lit(rbase))).head().getLong(0)
    assert(drawWith(0L) == 1L)  // r=0: first prefix 2 > 0 -> sel 0
    assert(drawWith(2L) == 5L)  // r=2: prefix 2 <= 2 -> sel 1
    assert(drawWith(3L) == 20L) // r=3: prefixes 2,3 <= 3 -> sel 2
    assert(drawWith(6L) == 20L) // r=6: sel 2 (last)
    assert(drawWith(7L) == 1L)  // rbase 7 % tot 7 = 0 -> sel 0
    // a negative rbase lands on the line like any other: floorMod(-3,
    // 7) = 4, prefixes 2,3 <= 4 -> sel 2
    assert(drawWith(-3L) == 20L)
  }

  test("LshBuckets == the posexplode/weight-join/rollup spelling on the corpus") {
    // both catalog configurations: 16x4 (sim_ann_lsh) and 8x6
    // (dedup_embedding_lsh)
    for ((tables, planes) <- Seq((16, 4), (8, 6))) {
      val emb = Tables.embeddings(spark, sf)
      val native = functions.Similarity.bucketsOf(emb, tables, planes)
      val qv = emb
        .select(col("vec_id"), posexplode(col("embedding")))
        .select(col("vec_id"), col("pos").as("i"),
          floor(col("col").cast("double") * 1048576).cast("long").as("qv"))
      val wdf = broadcast(spark.createDataFrame(
        functions.Similarity.planeWeightsFor(tables, planes))
        .toDF("t", "j", "i", "wt"))
      val joined = qv.join(wdf, "i")
        .groupBy("vec_id", "t", "j")
        .agg(sum(col("qv") * col("wt")).as("sj"))
        .groupBy("vec_id", "t")
        .agg(sum(expr(
          "CASE WHEN sj >= 0 THEN shiftleft(CAST(1 AS BIGINT), j) " +
            "ELSE CAST(0 AS BIGINT) END")).as("bucket"))
      assert(native.count() == joined.count())
      assert(native.join(joined, Seq("vec_id", "t", "bucket")).count()
        == joined.count(), s"bucket mismatch at $tables x $planes")
      assert(native.schema.map(f => (f.name, f.dataType))
        == joined.schema.map(f => (f.name, f.dataType)))
    }
  }

  test("LshBuckets: an empty array gives NULL and the column is nullable") {
    val df = spark.range(1).select(plans.GraftFunctions.lsh_buckets(
      typedLit(Seq.empty[Double]), 8, 6).as("b"))
    assert(df.schema("b").nullable)
    assert(df.select(col("b").isNull).head().getBoolean(0))
  }

  test("RpProject == the transform/aggregate JL fold on every embedding") {
    val k = functions.Similarity.RpDim
    val sign = "CASE WHEN ((d * 131 + j * 31 + 7) * 2654435761) " +
      "% 1000000007 % 2 = 0 THEN CAST(1.0 AS DOUBLE) " +
      "ELSE CAST(-1.0 AS DOUBLE) END"
    val diff = Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"))
      .select(
        plans.GraftFunctions.rp_project(col("emb"), k).as("native"),
        expr(s"""transform(sequence(0, ${k - 1}), j ->
          aggregate(sequence(1, size(emb)), CAST(0.0 AS DOUBLE),
            (acc, d) -> acc + element_at(emb, d) * $sign))""").as("fold"))
      .filter(col("native") =!= col("fold")).count()
    assert(diff == 0)
  }

  test("FeatProject == the per-column aggregate folds on every embedding") {
    val k = functions.Signals.ProjDims
    val folds = (0 until k).map { j =>
      expr(
        s"""aggregate(sequence(0, size(embedding) - 1), CAST(0 AS BIGINT),
           |  (acc, i) -> acc +
           |    CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1048576) AS BIGINT)
           |    * (CASE WHEN (i * ${2 * j + 3} + ${97 * j + 31})
           |          % 1000000007 % 2 = 1 THEN 1 ELSE -1 END))""".stripMargin)
        .as(s"f$j")
    }
    val df = Tables.embeddings(spark, sf)
      .select(col("embedding") +:
        plans.GraftFunctions.feat_project(col("embedding"), k).as("native") +:
        folds: _*)
    val diff = df.filter((0 until k)
        .map(j => col("native").getItem(j) =!= col(s"f$j"))
        .reduce(_ || _)).count()
    assert(diff == 0)
  }

  test("TextEntropyStats participates in whole-stage codegen (no fallback)") {
    val plan = Tables.documents(spark, sf)
      .select(plans.GraftFunctions.text_entropy_stats(col("text")))
      .queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*\\*\\(\\d+\\) Project \\[" +
      "static_invoke\\(graft\\.plans\\.TextEntropyStats\\.stats.*"), plan)
  }

  /** One projection per kernel: (kernel.method, key + kernel column). */
  private def kernelCases: Seq[(String, DataFrame)] = {
    val g = plans.GraftFunctions
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    val toks = split(col("text"), " ")
    val q = g.quantize20(col("embedding"))
    def onDocs(k: Column) = docs.select(col("doc_id"), k.as("k"))
    def onEmb(k: Column) = emb.select(col("vec_id"), k.as("k"))
    Seq(
      "PolyHash.hash" -> onDocs(g.poly_hash(col("text"))),
      "Shingles.shingle" -> onDocs(g.shingles(toks, 3)),
      "TextEntropyStats.stats" -> onDocs(g.text_entropy_stats(col("text"))),
      "NgramHashes.hashes" -> onDocs(g.ngram_hashes(toks, 8)),
      "PhashSig.sig" -> onDocs(g.phash_sig(col("text"))),
      "DotProduct.dot" -> onEmb(g.dot(col("embedding"), col("embedding"))),
      "Quantize20.q" -> onEmb(q),
      "ArrayHamming.dist" -> onEmb(g.array_hamming(q, q)),
      "TriangleProducts.products" -> onEmb(g.triangle_products(q, q)),
      "Node2vecDraw.draw" ->
        onEmb(g.n2v_draw(q, q, col("vec_id"), col("vec_id"))),
      "LshBuckets.buckets" -> onEmb(g.lsh_buckets(col("embedding"), 8, 6)),
      "RpProject.project" -> onEmb(g.rp_project(col("embedding"), 16)),
      "FeatProject.project" -> onEmb(g.feat_project(col("embedding"), 8)))
  }

  test("every kernel participates in whole-stage codegen (no fallback)") {
    for ((kernel, df) <- kernelCases) {
      val plan = df.queryExecution.executedPlan.toString
      // the kernel call sits on the line of a "*(n) Project [" operator
      val call = "static_invoke\\(graft\\.plans\\." +
        kernel.replace(".", "\\.") + "\\("
      assert(plan.matches(
        "(?s).*\\*\\(\\d+\\) Project \\[[^\\n]*" + call + ".*"),
        s"$kernel:\n$plan")
    }
  }

  test("every kernel gives the same values interpreted as compiled") {
    def run(): Seq[Seq[String]] =
      kernelCases.map(_._2.collect().map(_.toString).toSeq.sorted)
    val compiled = run()
    assert(compiled.forall(_.nonEmpty))
    val interpreted = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    interpreted.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      for (((kernel, _), (c, i)) <- kernelCases.zip(compiled.zip(run())))
        assert(c == i, kernel)
    } finally interpreted.foreach { case (k, _) => spark.conf.unset(k) }
  }
}
