package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (`vec_id:long, embedding:array<float>, label:int`, 64-dim).
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k by broadcast cross join — the
  *    correctness baseline. The probe set is broadcast; the corpus streams.
  *    All arithmetic is an ordered left-fold over doubles so the DuckDB
  *    oracle (list_reduce) is bit-identical.
  *  - [[lshTopK]]: random-hyperplane LSH — the 100 TB path. 16 seeded
  *    hyperplanes → 16-bit bucket signature computed map-side; candidates
  *    are ranked within (multi-probe) buckets, turning an O(N·Q) cross join
  *    into a bucket-equi-join whose shuffle key is the signature.
  */
object Similarity {

  /** Ordered-fold dot product of two double-array columns (deterministic
    * IEEE order; matches DuckDB `list_reduce`) — the native single-loop
    * expression ([[graft.expressions.DotProduct]]); the HOF chain below is
    * the spec-checked parity twin.
    */
  def dot(a: Column, b: Column): Column =
    graft.expressions.DotProduct.dot_product(a, b)

  /** `aggregate(zip_with(...))` twin of [[dot]] — identical fold order. */
  private[graft] def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  def dotSqlDuck(a: String, b: String, dim: Int = 64): String =
    s"list_reduce(list_transform(range(1, ${dim + 1}), i -> $a[i] * $b[i]), (x, y) -> x + y)"

  /** Exact top-k neighbors for each probe row. Probes must be small (they
    * are broadcast). Returns (qid, nid, cos, rank).
    */
  def bruteForceTopK(probes: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = probes.select(col("vec_id").as("qid"),
      col("embedding").cast("array<double>").as("qe"))
    val c = corpus.select(col("vec_id").as("nid"),
      col("embedding").cast("array<double>").as("ce"))
    val scored = c.join(broadcast(q), col("qid") =!= col("nid"))
      .withColumn("cos", cosine(col("qe"), col("ce")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("cos"), col("rank"))
  }

  // ---- sign-band blocking (embedding near-dup candidate generation) -------

  /** Dims per sign-band and band count for [[signBandKeys]]. The scale
    * knob: buckets per band = 2^signBandDims — raise dims-per-band (fewer,
    * finer bands) as the corpus grows so bucket sizes stay bounded; the
    * recall/bucket-size trade is the standard LSH banding curve.
    */
  val signBandDims = 4
  val signBands = 16 // signBandDims * signBands = dim (64): full coverage

  /** Content-derived blocking keys for embedding near-dup: band b's key is
    * the sign pattern of dims [b*d, b*d+d) — axis-aligned random-hyperplane
    * LSH. Computed map-side; the band key is the ONLY shuffle key, so
    * near-dup candidate generation is linear in bucket sizes instead of
    * quadratic in the corpus. Exact SQL twin: [[signBandKeysSqlDuck]].
    */
  def signBandKeys(e: Column): Column =
    array((0 until signBands).map { b =>
      concat_ws("", (lit(s"$b:") +: (0 until signBandDims).map { j =>
        when(element_at(e, b * signBandDims + j + 1) > 0, lit("1"))
          .otherwise(lit("0"))
      }): _*)
    }: _*)

  def signBandKeysSqlDuck(e: String): Seq[String] =
    (0 until signBands).map { b =>
      val bits = (0 until signBandDims).map { j =>
        s"(CASE WHEN $e[${b * signBandDims + j + 1}] > 0 THEN '1' ELSE '0' END)"
      }
      (s"'$b:'" +: bits).mkString(" || ")
    }

  // ---- LSH path -----------------------------------------------------------

  val lshBits = 16
  val dim = 64

  /** Deterministic seeded hyperplanes (no wall-clock, no external data). */
  def hyperplanes(seed: Long = 42L, bits: Int = lshBits, d: Int = dim): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(bits)(Array.fill(d)(rnd.nextGaussian()))
  }

  /** Map-side 16-bit signature column: bit b = sign(dot(hp_b, v)). Pure
    * Catalyst — each hyperplane is a literal array folded with
    * `zip_with`+`aggregate` (compact expression tree; an unrolled
    * element_at sum blows the janino 64KB method limit and silently
    * drops the plan out of whole-stage codegen).
    */
  def signature(v: Column, hps: Array[Array[Double]]): Column =
    hps.zipWithIndex.map { case (hp, b) =>
      val d = dot(v, typedLit(hp.toSeq))
      when(d > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** ANN top-k via signature-bucket join with Hamming-adjacent multi-probe
    * (probe its own bucket plus the `probes` single-bit-flipped buckets).
    * Recall measured against [[bruteForceTopK]] in tests.
    */
  def lshTopK(probesDf: DataFrame, corpus: DataFrame, k: Int,
      bits: Int = 8, seed: Long = 42L): DataFrame = {
    val hps = hyperplanes(seed, bits)
    val probes = bits
    val c = corpus.select(col("vec_id").as("nid"),
        col("embedding").cast("array<double>").as("ce"))
      .withColumn("sig", signature(col("ce"), hps))
    val qBase = probesDf.select(col("vec_id").as("qid"),
        col("embedding").cast("array<double>").as("qe"))
      .withColumn("sig0", signature(col("qe"), hps))
    // multi-probe: own bucket + single-bit flips
    val flips = array((lit(0L) +: (0 until probes).map(b => lit(1L << b))): _*)
    val q = qBase.withColumn("flip", explode(flips))
      .withColumn("sig", bitwise_xor_long(col("sig0"), col("flip")))
      .drop("sig0", "flip")
    val scored = c.join(broadcast(q), Seq("sig"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("cos", cosine(col("qe"), col("ce")))
      .dropDuplicates("qid", "nid")
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("cos"), col("rank"))
  }

  private def bitwise_xor_long(a: Column, b: Column): Column =
    a.bitwiseXOR(b)

  /** DOUBLE[] SQL literal. `Double.toString` is shortest-round-trip, so
    * DuckDB parses back the bit-identical double — sign comparisons and
    * ordered-fold dots then agree with Spark exactly.
    */
  private def vecLit(v: Array[Double]): String = v.mkString("[", ", ", "]")

  /** DuckDB twin of [[lshTopK]] over the `embeddings` table: identical
    * seeded hyperplanes as inline literals, identical signature packing,
    * identical single-bit multi-probe, identical (cos desc, nid) ranking.
    */
  def lshTopKSqlDuck(probeWhere: String, k: Int, bits: Int = 8,
      seed: Long = 42L): String = {
    val hpLits = hyperplanes(seed, bits).map(vecLit).mkString("[", ", ", "]")
    val flips = (0L +: (0 until bits).map(b => 1L << b)).mkString("[", ", ", "]")
    s"""(WITH hp AS (SELECT unnest(range(0, $bits)) AS b, unnest(CAST($hpLits AS DOUBLE[][])) AS v),
      |c0 AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings),
      |q0 AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE $probeWhere),
      |csig AS (SELECT nid, CAST(sum(CASE WHEN ${dotSqlDuck("ce", "v")} > 0 THEN 1 << b ELSE 0 END) AS BIGINT) AS sig
      |  FROM c0 CROSS JOIN hp GROUP BY nid),
      |qsig AS (SELECT qid, CAST(sum(CASE WHEN ${dotSqlDuck("qe", "v")} > 0 THEN 1 << b ELSE 0 END) AS BIGINT) AS sig0
      |  FROM q0 CROSS JOIN hp GROUP BY qid),
      |probes AS (SELECT qid, xor(sig0, CAST(f AS BIGINT)) AS sig FROM qsig, unnest($flips) u(f)),
      |cand AS (SELECT DISTINCT p.qid, s.nid FROM probes p JOIN csig s ON s.sig = p.sig WHERE p.qid <> s.nid),
      |scored AS (SELECT qid, nid, (${dotSqlDuck("qe", "ce")}) / (sqrt(${dotSqlDuck("qe", "qe")}) * sqrt(${dotSqlDuck("ce", "ce")})) AS cos
      |  FROM cand JOIN q0 USING (qid) JOIN c0 USING (nid)),
      |ranked AS (SELECT qid, nid, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank FROM scored)
      |SELECT qid, nid, rank, round(cos, 6) AS cos FROM ranked WHERE rank <= $k)""".stripMargin
  }

  // ---- IVF path ------------------------------------------------------------

  /** Deterministic seeded centroids (unit-normalized gaussians) — the
    * k-means INIT, and the centroid set the oracle-checked `ann_ivf` query
    * pins (the seed is part of the index definition, so builds are
    * reproducible). [[trainCentroids]] is the real index-build pass.
    */
  def centroids(nlist: Int, seed: Long = 7L, d: Int = dim): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nlist) {
      val v = Array.fill(d)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
  }

  /** Nearest-centroid cell id for an embedding column — the native
    * [[graft.expressions.NearestCentroid]] kernel: the centroid matrix is
    * a single per-instance reference object, so plan size and depth are
    * O(1) in nlist (the round-3 review flagged the previous reduce-chained
    * `when` comparison, whose nlist-deep expression tree hits janino
    * limits around nlist ≈ 4096), and the kernel codegens (a `zip_with`+
    * `aggregate` fold would drop the projection out of whole-stage
    * codegen — HOFs are CodegenFallback). Semantics are bit-identical to
    * that chain, to the HOF parity twin ([[assignCellHof]], randomized
    * spec), and to the DuckDB replay: first-max-wins — max score, min
    * cell on equal scores — over ordered-fold [[dot]] scores.
    */
  private[graft] def assignCell(e: Column, cents: Array[Array[Double]]): Column =
    graft.expressions.NearestCentroid.of(e, cents)

  /** Declarative parity twin of [[assignCell]]: literal centroid matrix
    * scored with `zip_with`, folded with `aggregate` seeded by element 1
    * keeping the accumulator on ties — the same first-max-wins sequence.
    * Spec-checked equal to the native kernel; edit both together.
    */
  private[graft] def assignCellHof(e: Column, cents: Array[Array[Double]]): Column = {
    val nlist = cents.length
    val centMat = typedLit(cents.map(_.toSeq).toSeq)
    val scored = zip_with(centMat, sequence(lit(0), lit(nlist - 1)),
      (c, i) => struct(dot(e, c).as("s"), i.as("cell")))
    aggregate(slice(scored, 2, nlist - 1), element_at(scored, 1),
      (acc, x) => when(x.getField("s") > acc.getField("s"), x).otherwise(acc))
      .getField("cell")
  }

  /** Quantization scale for the training sums: per-dim embedding values
    * are scaled by 2^20 and floored to integers before summing, so the
    * cross-partition sums are EXACT — order/partition-invariant like the
    * round-2 decimal sums, but additionally replayable bit-identically by
    * the DuckDB oracle: `x * 2^20` is exact IEEE arithmetic (power-of-two
    * scale), `floor` is unambiguous in both engines (no half-way rounding
    * mode to match, unlike double→decimal casts), and exact-integer→double
    * conversions are correctly rounded everywhere. Precision cost on the
    * cell means is ~1e-6 per dim — irrelevant to assignment quality.
    */
  val quantScale: Long = 1L << 20

  /** Deterministic distributed Lloyd's k-means over the corpus embeddings —
    * the IVF index-build pass. Seeded init ([[centroids]]), fixed iteration
    * count, and exact quantized-integer per-dimension sums ([[quantScale]])
    * so the result is bit-stable across partitionings, re-runs, and
    * engines (double addition is not associative; resumability demands
    * run-independent centroids, and the driver gate replays the whole
    * training in SQL). Each iteration is one map-side assignment + one
    * 2·d-aggregate groupBy over nlist cells; only the (nlist × d) centroid
    * matrix ever reaches the driver. Empty cells keep their previous
    * centroid.
    *
    * Dimension contract: embeddings MUST share the centroid dimension
    * (the seeded init fixes d from [[Similarity.dims]]). A mismatched row
    * is not an error, but the scoring paths DISAGREE on it — the native
    * kernel folds the common prefix while the HOF twin (`zip_with`
    * null-pads the shorter array) and the DuckDB replay (fixed `1..d`
    * indexing) both yield NULL scores — so mixed-dimension input silently
    * voids the bit-parity contract rather than failing loudly; validate
    * `size(embedding)` upstream if it can occur.
    */
  def trainCentroids(corpus: DataFrame, nlist: Int = 16, iters: Int = 5,
      seed: Long = 7L, d: Int = dim): Array[Array[Double]] = {
    val cents = centroids(nlist, seed, d)
    val emb = corpus.select(col("embedding").cast("array<double>").as("e"))
    (1 to iters).foreach { _ =>
      val cell = assignCell(col("e"), cents)
      val sums = (0 until d).map(i =>
        sum(floor(element_at(col("e"), i + 1) * quantScale).cast("long"))
          .as(s"s$i"))
      val rows = emb.withColumn("cell", cell)
        .groupBy("cell")
        .agg(count(lit(1)).as("n"), sums: _*)
        .collect()
      rows.foreach { r =>
        val ci = r.getAs[Int]("cell")
        val n = r.getAs[Long]("n")
        if (n > 0) {
          val mean = (0 until d).map(i =>
            r.getAs[Long](s"s$i").toDouble / (n * quantScale).toDouble).toArray
          val norm = math.sqrt(mean.map(x => x * x).sum)
          cents(ci) = if (norm > 0) mean.map(_ / norm) else cents(ci)
        }
      }
    }
    cents
  }

  /** DuckDB twin of [[trainCentroids]] + [[ivfTopKWith]]: the ENTIRE index
    * build is replayed in SQL as a recursive CTE — seeded init centroids as
    * literals, then `iters` Lloyd iterations with first-max-wins assignment
    * (max score, min cell on ties — the Scala fold's semantics), exact
    * quantized-integer dimension sums, and zero-norm/empty cells carrying
    * the previous centroid forward — followed by the same IVF probe/rank
    * as [[ivfTopKSqlDuck]] over the TRAINED centroids. Every arithmetic
    * step is bit-exact cross-engine (see [[quantScale]]), so this gates the
    * index build itself, not just the seeded init.
    */
  def ivfTopKTrainedSqlDuck(probeWhere: String, k: Int, nlist: Int = 8,
      nprobe: Int = 4, iters: Int = 3, seed: Long = 7L): String = {
    val q = quantScale
    val centLits = centroids(nlist, seed).map(vecLit).mkString("[", ", ", "]")
    s"""(WITH RECURSIVE
      |emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |train(it, cell, cv) AS (
      |  SELECT 0, cell, cv FROM (SELECT unnest(range(0, $nlist)) AS cell,
      |    unnest(CAST($centLits AS DOUBLE[][])) AS cv) init
      |  UNION ALL
      |  (WITH cur AS MATERIALIZED (SELECT * FROM train WHERE it < $iters),
      |  scored AS (SELECT v.vec_id, c.cell, ${dotSqlDuck("v.e", "c.cv")} AS s
      |    FROM emb v CROSS JOIN cur c),
      |  best AS (SELECT vec_id, max(s) AS ms FROM scored GROUP BY vec_id),
      |  assign AS (SELECT s.vec_id, min(s.cell) AS cell FROM scored s
      |    JOIN best b ON s.vec_id = b.vec_id AND s.s = b.ms GROUP BY s.vec_id),
      |  dims AS (SELECT a.cell, u.i AS i,
      |      CAST(floor(v.e[CAST(u.i AS INT)] * $q) AS BIGINT) AS qv
      |    FROM assign a JOIN emb v USING (vec_id), unnest(range(1, ${dim + 1})) u(i)),
      |  agg AS (SELECT cell, i, sum(qv) AS sq FROM dims GROUP BY cell, i),
      |  cnt AS (SELECT cell, count(*) AS n FROM assign GROUP BY cell),
      |  mn AS (SELECT g.cell,
      |      list(CAST(g.sq AS DOUBLE) / CAST(c.n * $q AS DOUBLE) ORDER BY g.i) AS mv
      |    FROM agg g JOIN cnt c USING (cell) GROUP BY g.cell),
      |  nrm AS (SELECT cell, mv,
      |      sqrt(list_reduce(list_transform(mv, x -> x * x), (a, b) -> a + b)) AS norm
      |    FROM mn),
      |  newc AS (SELECT cell, list_transform(mv, x -> x / norm) AS cv
      |    FROM nrm WHERE norm > 0)
      |  SELECT cur.it + 1, cur.cell, coalesce(n2.cv, cur.cv)
      |  FROM cur LEFT JOIN newc n2 USING (cell))
      |),
      |cents AS (SELECT cell, cv FROM train WHERE it = $iters),
      |c0 AS (SELECT vec_id AS nid, e AS ce FROM emb),
      |q0 AS (SELECT vec_id AS qid, e AS qe FROM emb WHERE $probeWhere),
      |cscore AS (SELECT nid, cell, ${dotSqlDuck("ce", "cv")} AS s FROM c0 CROSS JOIN cents),
      |cassign AS (SELECT nid, cell FROM cscore QUALIFY row_number() OVER (PARTITION BY nid ORDER BY s DESC, cell DESC) = 1),
      |qscore AS (SELECT qid, cell, ${dotSqlDuck("qe", "cv")} AS s FROM q0 CROSS JOIN cents),
      |qprobe AS (SELECT qid, cell FROM qscore QUALIFY row_number() OVER (PARTITION BY qid ORDER BY s DESC, cell DESC) <= $nprobe),
      |cand AS (SELECT qid, nid FROM qprobe JOIN cassign USING (cell) WHERE qid <> nid),
      |scored2 AS (SELECT qid, nid, (${dotSqlDuck("qe", "ce")}) / (sqrt(${dotSqlDuck("qe", "qe")}) * sqrt(${dotSqlDuck("ce", "ce")})) AS cos
      |  FROM cand JOIN q0 USING (qid) JOIN c0 USING (nid)),
      |ranked AS (SELECT qid, nid, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank FROM scored2)
      |SELECT qid, nid, rank, round(cos, 6) AS cos FROM ranked WHERE rank <= $k)""".stripMargin
  }

  /** [[ivfTopK]] with externally supplied (e.g. trained) centroids. */
  def ivfTopKWith(cents: Array[Array[Double]])(probesDf: DataFrame,
      corpus: DataFrame, k: Int, nprobe: Int): DataFrame =
    ivfTopKImpl(probesDf, corpus, k, cents, nprobe)

  /** Scores against every centroid as an array column (ordered folds). */
  private def centroidScores(v: Column, cents: Array[Array[Double]]): Column =
    array(cents.map(c => dot(v, typedLit(c.toSeq))).toSeq: _*)

  /** IVF (inverted-file) ANN: corpus vectors are assigned map-side to their
    * nearest centroid cell (the shuffle key at scale — each cell is a
    * partition of the index); queries probe their `nprobe` nearest cells.
    * Exact cosine re-ranking inside the probed cells.
    */
  /** DuckDB twin of [[ivfTopK]]: identical seeded centroids as literals;
    * cell ranking mirrors Spark's `reverse(array_sort(struct(s, cell)))`
    * exactly — score DESC, cell DESC on ties.
    */
  def ivfTopKSqlDuck(probeWhere: String, k: Int, nlist: Int = 16,
      nprobe: Int = 4, seed: Long = 7L): String = {
    val centLits = centroids(nlist, seed).map(vecLit).mkString("[", ", ", "]")
    s"""(WITH cents AS (SELECT unnest(range(0, $nlist)) AS cell, unnest(CAST($centLits AS DOUBLE[][])) AS cv),
      |c0 AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings),
      |q0 AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE $probeWhere),
      |cscore AS (SELECT nid, cell, ${dotSqlDuck("ce", "cv")} AS s FROM c0 CROSS JOIN cents),
      |cassign AS (SELECT nid, cell FROM cscore QUALIFY row_number() OVER (PARTITION BY nid ORDER BY s DESC, cell DESC) = 1),
      |qscore AS (SELECT qid, cell, ${dotSqlDuck("qe", "cv")} AS s FROM q0 CROSS JOIN cents),
      |qprobe AS (SELECT qid, cell FROM qscore QUALIFY row_number() OVER (PARTITION BY qid ORDER BY s DESC, cell DESC) <= $nprobe),
      |cand AS (SELECT qid, nid FROM qprobe JOIN cassign USING (cell) WHERE qid <> nid),
      |scored AS (SELECT qid, nid, (${dotSqlDuck("qe", "ce")}) / (sqrt(${dotSqlDuck("qe", "qe")}) * sqrt(${dotSqlDuck("ce", "ce")})) AS cos
      |  FROM cand JOIN q0 USING (qid) JOIN c0 USING (nid)),
      |ranked AS (SELECT qid, nid, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank FROM scored)
      |SELECT qid, nid, rank, round(cos, 6) AS cos FROM ranked WHERE rank <= $k)""".stripMargin
  }

  def ivfTopK(probesDf: DataFrame, corpus: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4, seed: Long = 7L): DataFrame =
    ivfTopKImpl(probesDf, corpus, k, centroids(nlist, seed), nprobe)

  private def ivfTopKImpl(probesDf: DataFrame, corpus: DataFrame, k: Int,
      cents: Array[Array[Double]], nprobe: Int): DataFrame = {
    val nlist = cents.length
    def rankedCells(v: Column): Column = {
      val scored = zip_with(
        centroidScores(v, cents),
        sequence(lit(0), lit(nlist - 1)),
        (s, i) => struct(s.as("s"), i.as("cell")))
      slice(reverse(array_sort(scored)), 1, nprobe)
    }
    val c = corpus.select(col("vec_id").as("nid"),
        col("embedding").cast("array<double>").as("ce"))
      .withColumn("cell", element_at(rankedCells(col("ce")), 1).getField("cell"))
    val q = probesDf.select(col("vec_id").as("qid"),
        col("embedding").cast("array<double>").as("qe"))
      .withColumn("cell", explode(rankedCells(col("qe")).getField("cell")))
    val scored = c.join(broadcast(q), Seq("cell"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("cos", cosine(col("qe"), col("ce")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("cos"), col("rank"))
  }
}
