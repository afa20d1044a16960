package graft

import org.apache.spark.sql.functions._
import graft.functions.{HashFunctions => HF, HofReference, VectorFunctions => VF}
import graft.operators.Similarity

class VectorExpressionsSpec extends SparkSpec {
  import spark.implicits._

  /** cosine(query, reconstruct(codes)) through the fused [[graft.plans.PqCosine]]
    * kernel, built through the bridge like `VectorFunctions.pqEncode`. */
  private def pqCosine(q: org.apache.spark.sql.Column, codes: org.apache.spark.sql.Column,
      cbs: Array[Array[Array[Double]]]) = {
    import org.apache.spark.sql.GraftSqlBridge.{column, expression}
    column(graft.plans.PqCosine(expression(q), expression(codes), cbs))
  }

  test("native cosine is bit-identical to the HOF formulation on fixture embeddings") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val a = emb.select(col("vec_id").as("ia"), col("embedding").as("ea"))
    val b = emb.select(col("vec_id").as("ib"), col("embedding").as("eb"))
    val pairs = a.join(b, col("ib") === col("ia") + 7)
    val diffs = pairs.select(
      HofReference.cosine(col("ea"), col("eb")).as("hof"),
      VF.cosineNative(col("ea"), col("eb")).as("native"))
      .filter(col("hof") =!= col("native"))
      .count()
    assert(diffs == 0)
  }

  test("native cosine handles zero vectors and is registered in SQL") {
    val df = Seq((Seq(0.0f, 0.0f), Seq(1.0f, 2.0f))).toDF("a", "b")
    assert(df.select(VF.cosineNative(col("a"), col("b"))).as[Double].head() == 0.0)
    df.createOrReplaceTempView("vecs")
    val viaSql = spark.sql("SELECT graft_cosine(a, b) FROM vecs").as[Double].head()
    assert(viaSql == 0.0)
  }

  test("native cosine matches HOF semantics on degenerate inputs") {
    // (a, b) pairs covering: length mismatch (positive norms), null
    // element on either side, zero norm, empty arrays, null input
    val rows: Seq[(Option[Seq[Option[Double]]], Option[Seq[Option[Double]]])] = Seq(
      (Some(Seq(Some(1.0), Some(2.0), Some(3.0))), Some(Seq(Some(1.0), Some(2.0)))), // mismatch → NULL
      (Some(Seq(Some(1.0), None)), Some(Seq(Some(1.0), Some(2.0)))),                 // null elem a → 0.0
      (Some(Seq(Some(1.0), Some(2.0))), Some(Seq(None, Some(2.0)))),                 // null elem b → 0.0
      (Some(Seq(Some(0.0), Some(0.0))), Some(Seq(Some(1.0), Some(2.0)))),            // zero norm → 0.0
      (Some(Seq.empty), Some(Seq(Some(1.0)))),                                       // empty → 0.0
      (None, Some(Seq(Some(1.0)))),                                                  // null input → NULL
      (Some(Seq(Some(1.0), Some(2.0))), Some(Seq(Some(2.0), Some(1.0)))))            // normal
    val df = rows.toDF("a", "b")
    val got = df.select(
      HofReference.cosine(col("a"), col("b")).as("hof"),
      VF.cosineNative(col("a"), col("b")).as("native")).collect()
    got.zipWithIndex.foreach { case (r, i) =>
      assert(r.isNullAt(0) == r.isNullAt(1), s"row $i nullness: hof=${r.get(0)} native=${r.get(1)}")
      if (!r.isNullAt(0))
        assert(r.getDouble(0) == r.getDouble(1), s"row $i value: hof=${r.get(0)} native=${r.get(1)}")
    }
    // spot-check the interesting verdicts directly on the native form
    val native = got.map(r => if (r.isNullAt(1)) null else r.getDouble(1))
    assert(native(0) == null) // mismatch with positive norms
    assert(native(1) == 0.0 && native(2) == 0.0) // null elements
    assert(native(5) == null) // null input
  }

  test("native minhash matches the HOF formulation bit-for-bit on corpus shingles") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), split(lower(col("text")), "\\s+").as("toks"))
      .select(col("doc_id"), HF.hashedWordShingles(col("toks"), 3).as("hs"))
    val diffs = docs.select(
      HofReference.minHashFromHashesHof(col("hs"), 32).as("hof"),
      HF.minHashFromHashes(col("hs"), 32).as("native"))
      .filter(not(col("hof") === col("native")))
      .count()
    assert(diffs == 0)
    // empty shingle set → every permutation floor, Long.MaxValue
    val empty = Seq(Seq.empty[Long]).toDF("hs")
      .select(HF.minHashFromHashes(col("hs"), 4).as("s")).as[Seq[Long]].head()
    assert(empty == Seq.fill(4)(Long.MaxValue))
  }

  test("native shingle hashing matches the HOF formulation bit-for-bit") {
    val toks = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), split(lower(col("text")), "\\s+").as("toks"))
    // distinct 3-gram shingles (the MinHash feed)
    val shingleDiffs = toks.select(
      HofReference.hashedWordShinglesHof(col("toks"), 3).as("hof"),
      HF.hashedWordShingles(col("toks"), 3).as("native"))
      .filter(not(col("hof") === col("native")))
      .count()
    assert(shingleDiffs == 0)
    // non-distinct per-token hashes (the SimHash feed)
    val tokenDiffs = toks.select(
      transform(col("toks"), t => xxhash64(t)).as("hof"),
      HF.hashedTokens(col("toks")).as("native"))
      .filter(not(col("hof") === col("native")))
      .count()
    assert(tokenDiffs == 0)
    // degenerate inputs: fewer tokens than n → empty; NULL array → empty
    // (hashedWordShingles' legacy contract) but NULL through the raw expr
    val deg = Seq(Option(Seq("only", "two")), None).toDF("toks")
    val shing = deg.select(HF.hashedWordShingles(col("toks"), 3).as("s"))
      .as[Seq[Long]].collect()
    assert(shing(0) == Seq.empty && shing(1) == Seq.empty)
    val rawNull = deg.filter(col("toks").isNull)
      .select(call_function("graft_shingles", col("toks"), lit(3), lit(true)))
      .collect()
    assert(rawNull(0).isNullAt(0))
    // duplicate shingles collapse in first-occurrence order, like array_distinct
    val dup = Seq(Seq("a", "b", "a", "b", "a")).toDF("toks")
    val hofDup = dup.select(HofReference.hashedWordShinglesHof(col("toks"), 2).as("s")).as[Seq[Long]].head()
    val natDup = dup.select(HF.hashedWordShingles(col("toks"), 2).as("s")).as[Seq[Long]].head()
    assert(natDup == hofDup && natDup.length == 2)
  }

  test("native simhash matches the HOF formulation") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"),
        transform(graft.functions.TextFunctions.tokens(col("text")), t => xxhash64(t)).as("th"))
    val diffs = docs.select(
      HF.simHashFromHashesHof(col("th"), 48).as("hof"),
      call_function("graft_simhash", col("th"), lit(48)).as("native"))
      .filter(col("hof") =!= col("native"))
      .count()
    assert(diffs == 0)
    // empty token-hash array → all contribs 0 → all bits set
    val empty = Seq(Seq.empty[Long]).toDF("th")
      .select(call_function("graft_simhash", col("th"), lit(8)).as("s")).as[Long].head()
    assert(empty == 255L)
  }

  test("native needle counting matches the regex idiom exactly") {
    import graft.functions.{TextFunctions => TF}
    val needles = Seq(" the ", " a ", " of ", " le ", " und ")
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(concat(lit(" "), col("text"), lit(" ")).as("pt"))
    val regexCounts = array(needles.map(n => HofReference.occurrences(col("pt"), n)): _*)
    val diffs = docs.select(
      regexCounts.as("hof"),
      TF.occurrencesAll(col("pt"), needles).as("native"))
      .filter(not(col("hof") === col("native")))
      .count()
    assert(diffs == 0)
    // non-overlapping semantics: " a a a " contains " a " twice by the
    // leftmost-consuming count (positions 0 and 4), not three times
    val tricky = Seq(" a a a ").toDF("pt")
    val got = tricky.select(TF.occurrencesAll(col("pt"), Seq(" a ")).as("c"))
      .as[Seq[Int]].head()
    val viaRegex = tricky.select(HofReference.occurrences(col("pt"), " a ").as("c")).as[Int].head()
    assert(got == Seq(viaRegex) && got == Seq(2))
    // NULL text → NULL counts array (null-in null-out, like the regex form)
    val nullRow = Seq(Option.empty[String]).toDF("pt")
      .select(TF.occurrencesAll(col("pt"), Seq(" a "))).collect()
    assert(nullRow(0).isNullAt(0))
  }

  test("native expressions survive codegen (non-trivial batch)") {
    // enough rows that whole-stage codegen actually compiles the loop
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val n = emb.select(VF.cosineNative(col("embedding"), col("embedding")).as("c"))
      .filter(col("c") > 0.999999).count()
    assert(n == 500)
  }

  test("null array elements: native hash consumers skip them; winnow nulls out") {
    val withNull = Seq((1L, Seq(Option(7L), None, Option(9L)))).toDF("id", "hs")
    val clean = Seq((1L, Seq(7L, 9L))).toDF("id", "hs")
    def one(df: org.apache.spark.sql.DataFrame, e: org.apache.spark.sql.Column) =
      df.select(e.as("r")).collect()(0)
    // minhash / simhash: signature over the non-null elements
    assert(one(withNull, call_function("graft_minhash", col("hs"), lit(8))).getSeq[Long](0) ==
      one(clean, call_function("graft_minhash", col("hs"), lit(8))).getSeq[Long](0))
    assert(one(withNull, call_function("graft_simhash", col("hs"), lit(16))).getLong(0) ==
      one(clean, call_function("graft_simhash", col("hs"), lit(16))).getLong(0))
    // winnow: positions are load-bearing — a null gram nulls the result
    assert(one(withNull, call_function("graft_winnow", col("hs"), lit(2))).isNullAt(0))
    assert(!one(clean, call_function("graft_winnow", col("hs"), lit(2))).isNullAt(0))
  }

  test("cosine: NaN input yields 0.0 in BOTH the HOF and native forms") {
    val df = Seq((Seq(Float.NaN, 1.0f), Seq(1.0f, 1.0f))).toDF("a", "b")
    val r = df.select(
      HofReference.cosine(col("a"), col("b")).as("hof"),
      graft.functions.VectorFunctions.cosineNative(col("a"), col("b")).as("nat"))
      .as[(Double, Double)].collect()(0)
    assert(r == ((0.0, 0.0)), s"NaN must not leak into >=-threshold filters: $r")
  }

  /** The HOF composition graft_argmax_cos replaced (the previous
    * assignCluster body) — kept HERE as the executable reference.
    */
  private def argmaxHof(emb: org.apache.spark.sql.Column,
      centroids: Seq[Seq[Double]]): org.apache.spark.sql.Column = {
    val scored = transform(typedLit(centroids), (c, ci) =>
      struct(VF.cosineNative(emb, c).as("cd"), ci.as("cid")))
    array_max(scored).getField("cid")
  }

  test("native argmax-cosine ≡ the HOF struct/array_max form on fixture embeddings") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    // centroids from the data itself (normalized rows) so cosines are
    // realistic and ties essentially impossible — then a synthetic
    // centroid DUPLICATED to force exact ties at real data too
    val cents0 = emb.orderBy(col("vec_id")).limit(7)
      .select(col("embedding")).as[Seq[Float]].collect()
      .map { v =>
        val n = math.sqrt(v.map(x => x.toDouble * x).sum)
        v.map(_ / n).toSeq
      }.toSeq
    val cents = cents0 ++ Seq(cents0.head) // index 7 duplicates index 0
    val diffs = emb.select(
      argmaxHof(col("embedding"), cents).as("hof"),
      Similarity.assignCluster(col("embedding"), cents).as("nat"))
      .filter(col("hof") =!= col("nat")).count()
    assert(diffs == 0)
    // the planted duplicate: every row whose best match is centroid 0
    // must resolve to the HIGHER duplicate index (7) in both forms
    val zeros = emb.select(Similarity.assignCluster(col("embedding"), cents).as("c"))
      .filter(col("c") === 0).count()
    assert(zeros == 0, "exact ties must resolve to the higher index")
  }

  test("native argmax-cosine matches HOF semantics on degenerate inputs") {
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(0.6, 0.8))
    val rows = Seq(
      ("null", null.asInstanceOf[Seq[Float]]),
      ("empty", Seq.empty[Float]),
      ("mismatch", Seq(1.0f, 2.0f, 3.0f)),
      ("nullElem", Seq(1.0f, null.asInstanceOf[Float])), // becomes 0.0f — see below
      ("zero", Seq(0.0f, 0.0f)),
      ("nan", Seq(Float.NaN, 1.0f)),
      ("normal", Seq(2.0f, 1.0f)))
    val df = rows.toDF("label", "e")
    val got = df.select(col("label"),
      argmaxHof(col("e"), cents).as("hof"),
      Similarity.assignCluster(col("e"), cents).as("nat"))
      .as[(String, Integer, Integer)].collect()
    got.foreach { case (label, hof, nat) =>
      assert(hof == nat, s"$label: hof $hof vs native $nat")
    }
    // and a true null ELEMENT (Seq[java.lang.Float] encodes a null slot)
    val nullElem = Seq(Seq[java.lang.Float](1.0f, null)).toDF("e")
    val ne = nullElem.select(
      argmaxHof(col("e"), cents).as("hof"),
      Similarity.assignCluster(col("e"), cents).as("nat"))
      .as[(Integer, Integer)].collect()(0)
    assert(ne._1 == ne._2, s"null element: $ne")
    // NaN-NORM centroid under a length-mismatched input: the HOF scores
    // it 0.0 (nb > 0 is false for NaN) while positive-norm centroids
    // score null — the native mismatch branch must agree (it keys on
    // !(norm > 0), which catches NaN like zero)
    val nanCents = Seq(Seq(Double.NaN, 1.0), Seq(1.0, 0.0))
    val mm = Seq(Seq(1.0f, 2.0f, 3.0f)).toDF("e")
    val nm = mm.select(
      argmaxHof(col("e"), nanCents).as("hof"),
      Similarity.assignCluster(col("e"), nanCents).as("nat"))
      .as[(Integer, Integer)].collect()(0)
    assert(nm._1 == nm._2 && nm._2 == 0, s"NaN-norm centroid on mismatch: $nm")
  }

  test("native l2-normalize ≡ the HOF form bit-for-bit on fixture embeddings (float input)") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val rows = emb.select(
      VF.l2Normalize(col("embedding")).as("nat"),
      HofReference.l2NormalizeHof(col("embedding")).as("hof")).collect()
    assert(rows.nonEmpty)
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getSeq[Any](0) == r.getSeq[Any](1), s"row $i differs")
    }
    // and the output really is unit length (cosine with itself = 1)
    val n1 = emb.select(VF.cosineNative(
        VF.l2Normalize(col("embedding")), VF.l2Normalize(col("embedding"))).as("c"))
      .filter(abs(col("c") - 1.0) > 1e-9).count()
    assert(n1 == 0L)
  }

  test("native l2-normalize matches HOF semantics on degenerate inputs") {
    // null input, null element (cast copy, nulls kept), NaN element
    // (copy), zero vector (copy), empty array, normal vector
    val rows: Seq[Option[Seq[Option[Double]]]] = Seq(
      None,
      Some(Seq(Some(3.0), None, Some(4.0))),
      Some(Seq(Some(Double.NaN), Some(1.0))),
      Some(Seq(Some(0.0), Some(0.0))),
      Some(Seq.empty),
      Some(Seq(Some(3.0), Some(4.0))))
    val df = rows.toDF("a")
    val got = df.select(
      VF.l2Normalize(col("a")).as("nat"),
      HofReference.l2NormalizeHof(col("a")).as("hof")).collect()
    got.zipWithIndex.foreach { case (r, i) =>
      assert(r.isNullAt(0) == r.isNullAt(1), s"row $i nullness")
      if (!r.isNullAt(0)) {
        val (nat, hof) = (r.getSeq[Any](0), r.getSeq[Any](1))
        // NaN != NaN under ==; compare via toString per element
        assert(nat.map(String.valueOf) == hof.map(String.valueOf), s"row $i: nat=$nat hof=$hof")
      }
    }
    assert(got(0).isNullAt(0))                                   // null in, null out
    assert(got(1).getSeq[Any](0) == Seq(3.0, null, 4.0))         // null elem → cast copy
    assert(got(3).getSeq[Any](0) == Seq(0.0, 0.0))               // zero norm → copy
    assert(got(4).getSeq[Any](0) == Seq.empty)                   // empty → empty
    assert(got(5).getSeq[Any](0) == Seq(0.6, 0.8))               // 3-4-5 triangle
  }

  test("pq encode/cosine: codeword-exact vectors round-trip; argmin ties break low") {
    // hand-built codebooks: m=2 subspaces, 3 codes each, subdim=2 —
    // small enough to enumerate every case by hand
    val cbs: Array[Array[Array[Double]]] = Array(
      Array(Array(1.0, 0.0), Array(0.0, 1.0), Array(0.0, 1.0)), // codes 1,2 duplicate
      Array(Array(0.5, 0.5), Array(-0.5, 0.5), Array(1.0, -1.0)))
    // vector assembled FROM codewords encodes back to exactly those
    // codes (distance 0 each subspace), and its pq-cosine against its
    // own codes is 1.0 up to fp (reconstruction == the vector)
    val v = Seq(0.0, 1.0, 1.0, -1.0) // sub0 -> codeword 1 (tie with 2 -> LOWER), sub1 -> codeword 2
    val df = Seq((v, 0)).toDF("v", "i")
    val codes = df.select(VF.pqEncode(col("v"), cbs).as("c"))
      .as[Seq[Short]].head()
    assert(codes == Seq(1.toShort, 2.toShort),
      s"expected tie to break to the lower duplicate code: $codes")
    val cos = df.select(pqCosine(col("v"),
      VF.pqEncode(col("v"), cbs), cbs)).as[Double].head()
    assert(math.abs(cos - 1.0) < 1e-12, s"self-cosine via exact codes: $cos")
    // a vector NEAR a codeword scores against its reconstruction the
    // same as a hand-computed cosine vs the decoded codewords
    val w = Seq(0.1, 0.9, 0.6, 0.4)
    val wCodes = Seq((w, 0)).toDF("v", "i")
      .select(VF.pqEncode(col("v"), cbs).as("c")).as[Seq[Short]].head()
    assert(wCodes == Seq(1.toShort, 0.toShort))
    val recon = Seq(0.0, 1.0, 0.5, 0.5)
    val expected = {
      val dot = w.zip(recon).map { case (a, b) => a * b }.sum
      dot / (math.sqrt(w.map(x => x * x).sum) * math.sqrt(recon.map(x => x * x).sum))
    }
    val got = Seq((w, 0)).toDF("v", "i")
      .select(pqCosine(col("v"), VF.pqEncode(col("v"), cbs), cbs))
      .as[Double].head()
    assert(math.abs(got - expected) < 1e-12, s"got $got expected $expected")
  }

  test("pq kernels: degenerate inputs are NULL-loud or 0.0 per the documented table") {
    val cbs: Array[Array[Array[Double]]] = Array(
      Array(Array(1.0, 0.0), Array(0.0, 1.0)),
      Array(Array(0.5, 0.5), Array(-0.5, 0.5)))
    // encode: NULL input -> NULL; wrong length -> NULL; null element -> NULL
    val encRows: Seq[(Option[Seq[Option[Double]]], Int)] = Seq(
      (None, 0),
      (Some(Seq(Some(1.0), Some(2.0), Some(3.0))), 1),
      (Some(Seq(Some(1.0), None, Some(3.0), Some(4.0))), 2),
      (Some(Seq(Some(1.0), Some(2.0), Some(3.0), Some(4.0))), 3))
    val enc = encRows.toDF("v", "i").orderBy("i")
      .select(VF.pqEncode(col("v"), cbs)).collect()
    assert(enc(0).isNullAt(0) && enc(1).isNullAt(0) && enc(2).isNullAt(0))
    assert(!enc(3).isNullAt(0))
    // cosine: NULL side -> NULL; wrong code count -> NULL; out-of-range
    // code -> NULL; null q element -> 0.0; zero q -> 0.0
    val q = Seq(1.0, 2.0, 3.0, 4.0)
    val cosRows: Seq[(Option[Seq[Option[Double]]], Option[Seq[Short]], Int)] = Seq(
      (None, Some(Seq(0.toShort, 1.toShort)), 0),
      (Some(q.map(Option(_))), None, 1),
      (Some(q.map(Option(_))), Some(Seq(0.toShort)), 2),
      (Some(q.map(Option(_))), Some(Seq(0.toShort, 5.toShort)), 3),
      (Some(Seq(Some(1.0), None, Some(3.0), Some(4.0))), Some(Seq(0.toShort, 1.toShort)), 4),
      (Some(Seq(Some(0.0), Some(0.0), Some(0.0), Some(0.0))), Some(Seq(0.toShort, 1.toShort)), 5),
      (Some(q.map(Option(_))), Some(Seq(0.toShort, 1.toShort)), 6))
    val cos = cosRows.toDF("v", "c", "i").orderBy("i")
      .select(pqCosine(col("v"), col("c"), cbs)).collect()
    for (i <- Seq(0, 1, 2, 3)) assert(cos(i).isNullAt(0), s"row $i must be NULL")
    assert(cos(4).getDouble(0) == 0.0 && cos(5).getDouble(0) == 0.0)
    assert(!cos(6).isNullAt(0) && math.abs(cos(6).getDouble(0)) <= 1.0)
  }

  test("pq residual cosine: zero centroid degenerates to plain pq cosine; nonzero centroid reconstructs") {
    val cbs: Array[Array[Array[Double]]] = Array(
      Array(Array(1.0, 0.0), Array(0.0, 1.0)),
      Array(Array(0.5, 0.5), Array(-0.5, 0.5)))
    val q = Seq(0.3, 0.7, -0.2, 0.9)
    val codes = Seq(1.toShort, 0.toShort)
    val zero = Seq(0.0, 0.0, 0.0, 0.0)
    val df = Seq((q, codes, zero)).toDF("q", "c", "cent")
    val viaResidual = df.select(
      VF.pqResidualCosine(col("q"), col("c"), col("cent"), cbs)).as[Double].head()
    val viaPlain = df.select(
      pqCosine(col("q"), col("c"), cbs)).as[Double].head()
    assert(math.abs(viaResidual - viaPlain) < 1e-12,
      s"zero centroid must reduce to plain pq cosine: $viaResidual vs $viaPlain")
    // nonzero centroid: reconstruction = centroid + codeword, by hand
    val cent = Seq(0.1, 0.2, 0.3, 0.4)
    val recon = Seq(0.1 + 0.0, 0.2 + 1.0, 0.3 + 0.5, 0.4 + 0.5)
    val expected = {
      val dot = q.zip(recon).map { case (a, b) => a * b }.sum
      dot / (math.sqrt(q.map(x => x * x).sum) * math.sqrt(recon.map(x => x * x).sum))
    }
    val got = Seq((q, codes, cent)).toDF("q", "c", "cent")
      .select(VF.pqResidualCosine(col("q"), col("c"), col("cent"), cbs))
      .as[Double].head()
    assert(math.abs(got - expected) < 1e-12, s"got $got expected $expected")
    // degenerate: NULL centroid -> NULL; out-of-range code -> NULL;
    // null centroid element -> 0.0
    val rows: Seq[(Seq[Double], Seq[Short], Option[Seq[Option[Double]]], Int)] = Seq(
      (q, codes, None, 0),
      (q, Seq(9.toShort, 0.toShort), Some(cent.map(Option(_))), 1),
      (q, codes, Some(Seq(Some(0.1), None, Some(0.3), Some(0.4))), 2))
    val got2 = rows.toDF("q", "c", "cent", "i").orderBy("i")
      .select(VF.pqResidualCosine(col("q"), col("c"), col("cent"), cbs)).collect()
    assert(got2(0).isNullAt(0) && got2(1).isNullAt(0))
    assert(got2(2).getDouble(0) == 0.0)
  }

  test("pq kernels compile under strict codegen (no silent interpreted fallback)") {
    // spark silently falls back to interpreted eval when doGenCode
    // emits uncompilable Java — a batch test can pass with broken
    // codegen. CODEGEN_ONLY + fallback=false makes that loud.
    val cbs: Array[Array[Array[Double]]] = Array(
      Array(Array(1.0, 0.0), Array(0.0, 1.0)),
      Array(Array(0.5, 0.5), Array(-0.5, 0.5)))
    val prevMode = spark.conf.getOption("spark.sql.codegen.factoryMode")
    val prevFb = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val df = (0 until 2000).map { i =>
        (Seq(i * 0.01, 1.0 - i * 0.01, 0.3, 0.7), Seq(0.1, 0.2, 0.3, 0.4), i)
      }.toDF("v", "cent", "i")
      val out = df
        .withColumn("codes", VF.pqEncode(col("v"), cbs))
        .withColumn("c1", pqCosine(col("v"), col("codes"), cbs))
        .withColumn("c2", VF.pqResidualCosine(col("v"), col("codes"), col("cent"), cbs))
        .agg(count(when(col("c1").between(-1.0001, 1.0001) &&
          col("c2").between(-1.0001, 1.0001), 1)))
        .as[Long].head()
      assert(out == 2000)
    } finally {
      def restore(key: String, v: Option[String]): Unit =
        v match { case Some(x) => spark.conf.set(key, x); case None => spark.conf.unset(key) }
      restore("spark.sql.codegen.factoryMode", prevMode)
      restore("spark.sql.codegen.fallback", prevFb)
    }
  }

  test("every registered native kernel compiles under strict codegen") {
    // same masking risk as the pq kernels: each family's HOF-equality
    // specs would still pass if doGenCode broke and spark quietly fell
    // back to interpreted eval. One pass over the full registered
    // surface with fallback off makes any such break loud.
    val prevMode = spark.conf.getOption("spark.sql.codegen.factoryMode")
    val prevFb = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      (0 until 1000).map { i =>
        (s"kata satu dua tiga empat lima kata$i",
          Seq(s"tok$i", "a", "b", "c", "d"),
          Seq(i.toLong, i * 7L, i * 31L, i * 131L),
          Seq(0.1 * (i % 7), 0.5, -0.25, 1.0),
          Seq(0, 2), i)
      }.toDF("text", "toks", "hashes", "vec", "starts", "i")
        .createOrReplaceTempView("codegen_all")
      val n = spark.sql("""
        SELECT count(*) FROM (
          SELECT
            graft_cosine(vec, vec) c,
            graft_rollhash(text, 3) rh,
            graft_minhash(hashes, 16) mh,
            graft_winnow(hashes, 2) wn,
            graft_simhash(hashes) sh,
            graft_shingles(toks, 3, true) sg,
            graft_count_all(text, array('kata', 'dua')) ca,
            graft_hyperplanes(vec, 4, 8, 42L) hp,
            graft_argmax_cos(vec, array(array(1.0d, 0d, 0d, 0d), array(0d, 1.0d, 0d, 0d))) am,
            graft_span_mask(toks, starts, 2) sm,
            graft_hash_embed(hashes, 8) he,
            graft_nfc(text) nf
          FROM codegen_all
        ) WHERE c IS NOT NULL AND rh IS NOT NULL AND mh IS NOT NULL
          AND wn IS NOT NULL AND sh IS NOT NULL AND sg IS NOT NULL
          AND ca IS NOT NULL AND hp IS NOT NULL
          AND am IS NOT NULL AND sm IS NOT NULL AND nf IS NOT NULL AND he IS NOT NULL
      """).as[Long].head()
      assert(n == 1000)
      // the bridge-constructed (unregistered) l2Normalize and the
      // Column-API assignCluster ride the same pass
      val df2 = (0 until 1000).map(i =>
        (Seq(0.1 * i, 0.5, -0.25, 1.0), i)).toDF("vec", "i")
      val n2 = df2.select(VF.l2Normalize(col("vec")).as("l2"),
          Similarity.assignCluster(col("vec"),
            Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0))).as("cl"))
        .filter(col("l2").isNotNull && col("cl").isNotNull).count()
      assert(n2 == 1000)
    } finally {
      def restore(key: String, v: Option[String]): Unit =
        v match { case Some(x) => spark.conf.set(key, x); case None => spark.conf.unset(key) }
      restore("spark.sql.codegen.factoryMode", prevMode)
      restore("spark.sql.codegen.fallback", prevFb)
    }
  }

  test("native hash-embed == the HOF formulation bit-for-bit; degenerate inputs per table") {
    // the documents->embeddings bridge (r15): every value must match
    // the O(tokens*dim) HOF reference exactly, including the
    // zero-norm (fully cancelled votes) and null-element cases
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .where(col("text").isNotNull)
      .select(col("doc_id"),
        transform(split(trim(col("text")), "\\s+"), t => xxhash64(t)).as("hs"))
    val diffs = docs.select(
        HF.hashEmbed(col("hs"), 16).as("nat"),
        HofReference.hashEmbedHof(col("hs"), 16).as("hof"))
      .filter(col("nat") =!= col("hof")).count()
    assert(diffs == 0)
    // degenerates: null array -> NULL; empty -> zero vector; null
    // elements skipped; cancelling votes -> zero vector (never NaN).
    // 2L and 3L: bucket (h>>>1)%4 = 1 for both, signs +1/-1 -> cancel.
    val rows: Seq[(Option[Seq[Option[Long]]], Int)] = Seq(
      (None, 0),
      (Some(Seq.empty), 1),
      (Some(Seq(None, Some(2L))), 2),
      (Some(Seq(Some(2L), Some(3L))), 3))
    val got = rows.toDF("hs", "i").orderBy("i")
      .select(HF.hashEmbed(col("hs"), 4).as("nat"),
        HofReference.hashEmbedHof(col("hs"), 4).as("hof")).collect()
    assert(got(0).isNullAt(0) && got(0).isNullAt(1))
    assert(got(1).getSeq[Double](0) == Seq(0.0, 0.0, 0.0, 0.0))
    assert(got(2).getSeq[Double](0) == Seq(0.0, 1.0, 0.0, 0.0),
      s"null token carries no vote: ${got(2).getSeq[Double](0)}")
    assert(got(3).getSeq[Double](0) == Seq(0.0, 0.0, 0.0, 0.0),
      s"cancelled votes -> zero vector, not NaN: ${got(3).getSeq[Double](0)}")
    for (r <- 1 to 3) assert(got(r).getSeq[Double](0) == got(r).getSeq[Double](1),
      s"row $r: native and HOF must agree")
    // TOKEN-ORDER invariance, bit-exact: the embedding is a pure
    // function of the token MULTISET (±1 votes are exact commutative
    // adds; the norm pass runs in bucket order, independent of input
    // order). q123 LEANS on this — it embeds the planted copies from
    // the SORTED token list while the corpus embeds in document order.
    val orderDiffs = docs.select(
        HF.hashEmbed(col("hs"), 16).as("a"),
        HF.hashEmbed(reverse(array_sort(col("hs"))), 16).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(orderDiffs == 0,
      "hashEmbed must be bit-identical under any token reordering")
    // end-to-end: the embedder feeds the persisted ANN index directly -
    // a planted near-copy (one token changed) lands rank 1 by cosine
    val emb = Tables.documents(spark, "/root/testdata/sf0.001")
      .where(col("text").isNotNull && length(trim(col("text"))) > 0)
      .select(col("doc_id"),
        HF.hashEmbed(transform(split(trim(col("text")), "\\s+"),
          t => xxhash64(t)), 64).as("embedding"))
      .localCheckpoint(true)
    val dir = s"${java.nio.file.Files.createTempDirectory("hashembed")}/idx"
    graft.operators.VectorIndex.build(emb, "doc_id", "embedding", dir,
      k = 12, maxIter = 5)
    val probes = Tables.documents(spark, "/root/testdata/sf0.001")
      .where(col("text").isNotNull && pmod(col("doc_id"), lit(25)) === 0 &&
        size(split(trim(col("text")), "\\s+")) > 10)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        HF.hashEmbed(transform(split(concat(trim(col("text")), lit(" zzextra")),
          "\\s+"), t => xxhash64(t)), 64).as("embedding"))
    val top1 = graft.operators.VectorIndex.queryTopK(spark, probes, "doc_id",
        "embedding", dir, k = 1, nprobe = 4)
      .select(col("query_id"), col("neighbor_id")).as[(Long, Long)].collect()
    val hits = top1.count { case (q, n) => q - 1000000L == n }
    assert(top1.nonEmpty && hits >= (top1.length * 0.8).toInt,
      s"near-copies must mostly find their source at rank 1: $hits/${top1.length}")
  }
}
