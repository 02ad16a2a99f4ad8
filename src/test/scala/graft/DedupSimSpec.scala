package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Similarity}

/** Dedup family (exact / MinHash+LSH / SimHash / Jaccard) and ANN search
  * (brute-force vs LSH recall).
  */
class DedupSimSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  val base = "the quick brown fox jumps over the lazy dog again and again today"
  val nearDup = base.replace("today", "tomorrow")
  val other = "completely different content about spark shuffles and partitions here"

  def shinglesOf(s: String): Seq[String] =
    s.split(" ").sliding(3).map(_.mkString(" ")).toSeq

  test("shingles HOF matches scala sliding-window") {
    val got = Seq(base).toDF("t")
      .select(Dedup.shingles(Dedup.tokens(col("t"))))
      .as[Seq[String]].collect().head
    assert(got == shinglesOf(base))
  }

  test("minhash: identical docs -> identical signatures; near-dup shares bands; distinct doc does not") {
    // the production entry of every dedup gate: native minima, then the
    // signature and band keys derived from them
    val df = Dedup.withMinHashes(
      Seq((1L, base), (2L, base), (3L, nearDup), (4L, other)).toDF("doc_id", "t"), "t")
    val sigs = df.select(col("doc_id"), Dedup.signatureFromMinhashes(col("mh")))
      .as[(Long, String)].collect().toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(4L))

    val bands = df.select(col("doc_id"), explode(Dedup.bandKeysFromMinhashes(col("mh"))).as("b"))
      .as[(Long, String)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    assert((bands(1L) & bands(2L)).nonEmpty, "exact dup must collide")
    assert((bands(1L) & bands(3L)).nonEmpty, "near dup (1 token of 13) should collide")
    assert((bands(1L) & bands(4L)).isEmpty, "unrelated doc must not collide")
  }

  test("shingles: docs with < k tokens yield the empty array (no index crash)") {
    // sequence(1, 0) steps DOWNWARD in Spark, so an unguarded transform
    // would element_at past the end — pinned against the ADVICE repro.
    val df = Seq((1L, ""), (2L, "one"), (3L, "one two"), (4L, "one two three"))
      .toDF("doc_id", "t")
      .select(col("doc_id"),
        Dedup.shingles(Dedup.tokens(col("t"))).as("sh"))
    val got = df.as[(Long, Seq[String])].collect().toMap
    assert(got(1L) == Seq.empty && got(2L) == Seq.empty && got(3L) == Seq.empty)
    assert(got(4L) == Seq("one two three"))
    // and the downstream signature/band path tolerates empty shingle sets
    val sig = df.withColumn("dg", Dedup.shingleDigests(col("sh")))
      .select(col("doc_id"), Dedup.signatureFromDigests(col("dg")).as("sig"),
        Dedup.bandKeysFromDigests(col("dg")).as("bands"))
      .as[(Long, String, Seq[String])].collect()
    assert(sig.length == 4)
  }

  test("LSH pair expansion: hot band excluded by cap, surfaced as overflow") {
    val hot = (1 to 200).map(i => (i.toLong, "hot"))
    val small = Seq((900L, "b1"), (901L, "b1"), (902L, "b2"), (903L, "b2"),
      (904L, "b2"))
    val bands = (hot ++ small).toDF("doc_id", "band")
    val pairs = Dedup.lshCandidatePairs(bands)
      .select("da", "db").as[(Long, Long)].collect().toSet
    // only the small buckets expand: C(2,2)=1 pair + C(3,2)=3 pairs
    assert(pairs == Set((900L, 901L), (902L, 903L), (902L, 904L), (903L, 904L)))
    val overflow = Dedup.lshOverflowBands(bands)
      .as[(String, Long)].collect().toSeq
    assert(overflow == Seq(("hot", 200L)))
  }

  test("simhash: identical equal; near-dup within small hamming distance; unrelated far") {
    val toks = Seq((1L, base), (2L, base), (3L, nearDup), (4L, other))
      .toDF("doc_id", "t")
      .select(col("doc_id"), explode(Dedup.tokens(col("t"))).as("token"))
    val sh = Dedup.simhash(toks, Seq("doc_id")).as[(Long, Long)].collect().toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(sh(1L) == sh(2L))
    assert(hamming(sh(1L), sh(3L)) <= 4, s"near-dup hamming ${hamming(sh(1L), sh(3L))}")
    assert(hamming(sh(1L), sh(4L)) > hamming(sh(1L), sh(3L)))
  }

  test("jaccard HOF == scala set computation") {
    val got = Seq((base, nearDup)).toDF("a", "b")
      .select(Dedup.jaccard(
        array_distinct(Dedup.shingles(Dedup.tokens(col("a")))),
        array_distinct(Dedup.shingles(Dedup.tokens(col("b"))))))
      .as[Double].collect().head
    val sa = shinglesOf(base).toSet
    val sb = shinglesOf(nearDup).toSet
    assert(math.abs(got - sa.intersect(sb).size.toDouble / sa.union(sb).size) < 1e-12)
  }

  test("native dot_product == aggregate/zip_with fold, bit-exact (randomized)") {
    // both must perform the identical IEEE-754 sequence (acc + a_i*b_i left
    // to right from 0.0) — the DuckDB oracle's list_reduce agrees with that
    // order, so the native kernel must match to the last bit, not just
    // within epsilon.
    val rnd = new scala.util.Random(31)
    val rows = (1 to 300).map { _ =>
      val d = 1 + rnd.nextInt(80)
      (Seq.fill(d)(rnd.nextGaussian()), Seq.fill(d)(rnd.nextGaussian()))
    }
    val df = rows.toDF("a", "b")
    val native = df.select(Similarity.dot(col("a"), col("b"))).as[Double].collect()
    val hof = df.select(Similarity.dotHof(col("a"), col("b"))).as[Double].collect()
    assert(native.length == hof.length)
    native.zip(hof).foreach { case (n, h) =>
      assert(java.lang.Double.doubleToRawLongBits(n) ==
        java.lang.Double.doubleToRawLongBits(h), s"$n != $h")
    }
  }

  test("native MinHashes/Shingles == HOF digest chain (randomized)") {
    // the fused kernel must reproduce the declarative twin exactly —
    // per-element minima, the pipe-joined signature, the band keys, and
    // the shingle array itself — across random token arrays including
    // empty-string tokens, multi-byte UTF-8, and under-k docs.
    val rnd = new scala.util.Random(59)
    val vocab = Vector("the", "cat", "sat", "mat", "δοκιμή", "多字节", "",
      "x", "ω-token", "naïve")
    val rows: Seq[Seq[String]] = (0 until 300).map { _ =>
      Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size)))
    } ++ Seq(Seq.empty[String], Seq("a"), Seq("a", "b"), Seq("a", "b", "c"))
    val twinMins = array((0 until Dedup.numHashes)
      .map(h => Dedup.minhashFromDigests(col("dg"), h)): _*)
    val got = rows.toDF("toks")
      .withColumn("dg", Dedup.shingleDigests(Dedup.shingles(col("toks"))))
      .withColumn("mh", Dedup.minhashes(col("toks")))
      .select(col("mh"), twinMins.as("tw"),
        Dedup.signatureFromMinhashes(col("mh")).as("sigN"),
        Dedup.signatureFromDigests(col("dg")).as("sigT"),
        Dedup.bandKeysFromMinhashes(col("mh")).as("bkN"),
        Dedup.bandKeysFromDigests(col("dg")).as("bkT"),
        Dedup.shinglesNative(col("toks")).as("shN"),
        Dedup.shingles(col("toks")).as("shT"))
      .collect()
    assert(got.length == rows.length)
    got.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1), "minima")
      assert(r.getString(2) == r.getString(3), "signature")
      assert(r.getSeq[String](4) == r.getSeq[String](5), "band keys")
      assert(r.getSeq[String](6) == r.getSeq[String](7), "shingles")
    }

    // null tokens INSIDE the array: concat_ws skips them (no doubled
    // separator) — both kernels must agree with the HOF chain
    val nullTok = spark.sql(
      "SELECT array('a', cast(null AS string), 'b', 'c', 'd') AS toks")
      .withColumn("dg", Dedup.shingleDigests(Dedup.shingles(col("toks"))))
      .withColumn("mh", Dedup.minhashes(col("toks")))
      .select(col("mh"), twinMins,
        Dedup.shinglesNative(col("toks")), Dedup.shingles(col("toks")))
      .collect().head
    assert(nullTok.getSeq[String](0) == nullTok.getSeq[String](1))
    assert(nullTok.getSeq[String](2) == nullTok.getSeq[String](3))

    // NULL token array: the twin's when-guard folds to all-null minima,
    // the kernel propagates a null ARRAY — downstream-identical through
    // element_at/concat_ws/sha2 (documented in MinHashes' scaladoc)
    val nullArr = spark.range(1)
      .select(lit(null).cast("array<string>").as("toks"))
      .withColumn("dg", Dedup.shingleDigests(Dedup.shingles(col("toks"))))
      .withColumn("mh", Dedup.minhashes(col("toks")))
      .select(Dedup.signatureFromMinhashes(col("mh")),
        Dedup.signatureFromDigests(col("dg")),
        Dedup.bandKeysFromMinhashes(col("mh")),
        Dedup.bandKeysFromDigests(col("dg")))
      .collect().head
    assert(nullArr.getString(0) == nullArr.getString(1))
    assert(nullArr.getSeq[String](2) == nullArr.getSeq[String](3))
  }

  test("MinHash-family codegen path == interpreted (kernels alone off spark.range)") {
    // LocalRelation inputs evaluate interpreted (driver-folded) and a
    // co-projected HOF twin is CodegenFallback, so the randomized parity
    // test above never runs the kernels' GENERATED code. Drive the three
    // kernels ALONE off spark.range — a codegen'd source — and compare
    // against the interpreted results of identical inputs (same discipline
    // as the fingerprint codegen spec in AnalysisStreamingSpec).
    import graft.expressions.MinShingleDigest
    val texts = Seq("", "one", "one two", "the cat sat on the mat",
      "naïve δοκιμή 多字节 tokens here", "a b c d e f g h")
    def kernels(toks: org.apache.spark.sql.Column) = Seq(
      Dedup.minhashes(toks).as("mh"),
      Dedup.shinglesNative(toks).as("sh"),
      MinShingleDigest.min_shingle_digest(toks).as("fp"))
    val df = spark.range(texts.size)
      .select(col("id"), split(
        element_at(array(texts.map(lit): _*), (col("id") + 1).cast("int")),
        " ").as("toks"))
      .select(col("id") +: kernels(col("toks")): _*)
    val kernelLine = df.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("min_hashes"))
    assert(kernelLine.exists(_.trim.startsWith("*(")),
      s"kernel projection must be whole-stage codegen'd, got: $kernelLine")
    val got = df.collect().sortBy(_.getLong(0))
    val expected = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "t")
      .select(col("id"), split(col("t"), " ").as("toks"))
      .select(col("id") +: kernels(col("toks")): _*)
      .collect().sortBy(_.getLong(0))
    got.zip(expected).foreach { case (g, e) =>
      assert(g.getSeq[String](1) == e.getSeq[String](1), "minhashes")
      assert(g.getSeq[String](2) == e.getSeq[String](2), "shingles")
      assert(g.getString(3) == e.getString(3), "fingerprint digest")
    }
  }

  test("ANN: brute-force top-k matches local computation on sf0.001") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val got = Similarity.bruteForceTopK(emb.filter(col("vec_id") < 5), emb, 3)
      .select("qid", "rank", "nid").as[(Long, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap

    val local = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
    def cos(a: Seq[Double], b: Seq[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val expected = local.filter(_._1 < 5).map { case (q, qe) =>
      q -> local.filter(_._1 != q)
        .map { case (n, ne) => (n, cos(qe, ne)) }
        .sortBy { case (n, c) => (-c, n) }.take(3).map(_._1).toSeq
    }.toMap
    assert(got == expected)
  }

  test("ANN: IVF path — recall vs brute force with nprobe headroom (seeded)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val brute = Similarity.bruteForceTopK(emb.filter(col("vec_id") < 20), emb, 5)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(emb.filter(col("vec_id") < 20), emb, 5,
        nlist = 8, nprobe = 4)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    // nprobe/nlist = half the corpus scanned -> recall must be substantial
    val recall = (ivf & brute).size.toDouble / brute.size
    assert(recall >= 0.4, s"recall=$recall")
    // probing ALL cells must reproduce brute force exactly
    val full = Similarity.ivfTopK(emb.filter(col("vec_id") < 20), emb, 5,
        nlist = 8, nprobe = 8)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    assert(full == brute)
  }

  test("ANN: IVF k-means training — partition-invariant (exact quantized sums); full-probe ≡ brute") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val c1 = Similarity.trainCentroids(emb.repartition(7), nlist = 8, iters = 3)
    val c2 = Similarity.trainCentroids(emb.repartition(3), nlist = 8, iters = 3)
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq,
      "index build must be bit-stable across partitionings (resumability)")
    val probes = emb.filter(col("vec_id") < 20)
    val brute = Similarity.bruteForceTopK(probes, emb, 5)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val full = Similarity.ivfTopKWith(c1)(probes, emb, 5, nprobe = 8)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    assert(full == brute, "probing every trained cell must reproduce brute force")
    val part = Similarity.ivfTopKWith(c1)(probes, emb, 5, nprobe = 4)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val recall = (part & brute).size.toDouble / brute.size
    assert(recall >= 0.4, s"trained-centroid recall=$recall")
  }

  test("ANN: assignCell — O(1) plan depth at nlist=256, codegen kept, native == HOF twin == local") {
    // the round-3 review item: the former reduce-chained `when` assignment
    // built an nlist-deep expression tree (janino blowup ~nlist 4096). The
    // native NearestCentroid kernel must keep CONSTANT depth at any nlist,
    // stay inside whole-stage codegen (a HOF fold is CodegenFallback and
    // drops the projection out), and preserve first-max-wins semantics.
    val cents = Similarity.centroids(256, seed = 7L)
    val cell = Similarity.assignCell(col("e"), cents)
    def depth(e: org.apache.spark.sql.catalyst.expressions.Expression): Int =
      if (e.children.isEmpty) 1 else 1 + e.children.map(depth).max
    val d = depth(org.apache.spark.sql.graft.ColumnBridge.expression(cell))
    assert(d < 10, s"assignment expression depth $d must be O(1) in nlist")

    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(20)
    val df = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .withColumn("cell", cell)
    // the `*(n)` prefix marks a whole-stage-codegen'd operator; the
    // projection carrying the assignment must have it (a CodegenFallback
    // expression — e.g. a HOF fold — would strip it)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("nearest_centroid") && l.trim.matches("""\+?-?\s*\*\(\d+\) Project.*""")),
      s"the assignment projection fell out of whole-stage codegen:\n$plan")
    val got = df.select("vec_id", "cell").as[(Long, Int)].collect().toMap
    val local = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
    local.foreach { case (id, e) =>
      // first-max-wins: strictly-greater replaces, ties keep the earlier cell
      var best = 0; var bs = Double.NegativeInfinity
      cents.zipWithIndex.foreach { case (c, i) =>
        var s = 0.0; var j = 0
        while (j < e.length) { s += e(j) * c(j); j += 1 }
        if (s > bs) { bs = s; best = i }
      }
      assert(got(id) == best, s"vec $id: got ${got(id)} want $best")
    }
  }

  test("ANN: native NearestCentroid == HOF parity twin, bit-exact (randomized)") {
    // edit Similarity.assignCellHof and the native kernel together —
    // trainCentroids' DuckDB replay depends on this exact tie/fold order
    val rnd = new scala.util.Random(47)
    (1 to 5).foreach { round =>
      val nlist = Seq(1, 2, 7, 16, 64)(round - 1)
      val d = 1 + rnd.nextInt(40)
      val cents = Array.fill(nlist)(Array.fill(d)(rnd.nextGaussian()))
      // include exact-duplicate centroids to exercise the tie-keeps-earlier rule
      if (nlist > 2) cents(nlist - 1) = cents(0).clone()
      val rows = (1 to 60).map(i => (i.toLong, Seq.fill(d)(rnd.nextGaussian())))
      val df = rows.toDF("id", "e").select(col("id"),
        col("e").cast("array<double>").as("e"))
      val native = df.select(col("id"), Similarity.assignCell(col("e"), cents))
        .as[(Long, Int)].collect().toMap
      val hof = df.select(col("id"), Similarity.assignCellHof(col("e"), cents)
        .cast("int")).as[(Long, Int)].collect().toMap
      assert(native == hof, s"nlist=$nlist d=$d")
    }
    // NaN scores: Spark's `>` ranks NaN above every finite value (and
    // DuckDB agrees), Java's `>` is false for NaN — the native kernel
    // carries an explicit NaN arm to follow Spark. The first NaN-scoring
    // cell must beat finite scores before AND after it.
    val nanCents = Array(Array(1.0, 0.0), Array(Double.NaN, 0.0), Array(0.0, 1.0))
    val nanDf = Seq((1L, Seq(2.0, 3.0))).toDF("id", "e")
      .select(col("id"), col("e").cast("array<double>").as("e"))
    val nNative = nanDf.select(Similarity.assignCell(col("e"), nanCents))
      .as[Int].head()
    val nHof = nanDf.select(Similarity.assignCellHof(col("e"), nanCents)
      .cast("int")).as[Int].head()
    assert(nNative == 1 && nHof == 1,
      s"NaN cell must win under Spark ordering: native=$nNative hof=$nHof")
  }

  test("ANN: LSH path returns valid neighbors with nonzero recall (seeded)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val brute = Similarity.bruteForceTopK(emb.filter(col("vec_id") < 20), emb, 5)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshTopK(emb.filter(col("vec_id") < 20), emb, 5, bits = 4)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    // random gaussian embeddings are the worst case for LSH; with 4 bits +
    // single-bit multiprobe each query scans ~5/16 of the corpus, so recall
    // must be materially nonzero. Deterministic given (data, seed).
    assert(lsh.nonEmpty)
    val recall = (lsh & brute).size.toDouble / brute.size
    assert(recall >= 0.2, s"recall=$recall")
  }
}
