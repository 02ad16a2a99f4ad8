package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data deduplication suite over the `documents` corpus — exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard, each with an exact DuckDB
  * oracle twin.
  *
  * Hash-function note: every hash is `sha256` over strings and every
  * "minimum" is a string minimum over hex digests — deliberately
  * engine-agnostic (Spark's `hash()`/`xxhash64` have no DuckDB equivalent).
  * At 100 TB the sha256-per-shingle cost is the dominated term versus the
  * shuffle it avoids: dedup keys are computed map-side, the only shuffles
  * are the final groupBys/joins on short digest keys.
  *
  * Execution note: the MinHash hot path is the NATIVE fused kernel
  * [[graft.expressions.MinHashes]] (tokens → per-shingle sha256 → 8 running
  * unsigned-int minima, no intermediate arrays) and the shingle-set path is
  * [[graft.expressions.Shingles]] — the declarative higher-order-function
  * chain here ([[shingles]]/[[shingleDigests]]/[[minhashFromDigests]]) is
  * their parity twin (HOFs are CodegenFallback: they drop the projection
  * out of whole-stage codegen and materialize shingle + 64-hex digest
  * arrays per row). Edit kernel and twin together, never one side; the
  * randomized parity spec in DedupSimSpec pins them equal.
  */
object Dedup {

  val shingleSize = 3
  val numHashes = 8
  val numBands = 4 // rows-per-band = numHashes / numBands = 2

  /** Cap on LSH bucket size for pair expansion. A hot band — near-empty
    * docs, boilerplate licenses, which pretraining corpora hold in the
    * millions — would otherwise collect one giant array in a single
    * reducer and explode O(b²) pairs from one task. Buckets above the cap
    * are EXCLUDED from pair expansion (their members are by construction
    * ultra-common boilerplate, not informative near-duplicates) and
    * surfaced via [[lshOverflowBands]] — never silently: callers log the
    * overflow count.
    */
  val maxBucket = 64

  /** tokens column from cleaned text. */
  def tokens(c: Column): Column = split(c, " ")

  /** Evaluate `f` with `c` bound to a lambda variable, forcing `c` to be
    * computed ONCE per row. Without this, Catalyst re-evaluates a repeated
    * subexpression inside every higher-order-function lambda invocation —
    * `element_at(split(text), i)` re-splits the whole string per shingle
    * element, O(tokens²) work (measured 6× on the sf0.1 digest pass).
    */
  def bound(c: Column, f: Column => Column): Column =
    element_at(transform(array(c), x => f(x)), 1)

  /** Native fused MinHash minima (array of [[numHashes]] 8-hex strings) —
    * see [[graft.expressions.MinHashes]] for the twin contract.
    */
  def minhashes(toks: Column): Column =
    graft.expressions.MinHashes.min_hashes(toks)

  /** Native shingle array — see [[graft.expressions.Shingles]]. */
  def shinglesNative(toks: Column): Column =
    graft.expressions.Shingles.shingle_array(toks)

  /** df + native-kernel MinHash minima column `mh` (and optionally the
    * distinct shingle set). The token array is bound in its own projection
    * so the two kernels share ONE split. This is the canonical entry for
    * every MinHash-family query.
    */
  def withMinHashes(df: DataFrame, textCol: String,
      shingleSetCol: Option[String] = None): DataFrame = {
    val base = df.withColumn("toks__", tokens(col(textCol)))
      .withColumn("mh", minhashes(col("toks__")))
    shingleSetCol
      .map(c => base.withColumn(c, array_distinct(shinglesNative(col("toks__")))))
      .getOrElse(base)
      .drop("toks__")
  }

  /** Full signature from the kernel minima: pipe-joined, null minima
    * (under-k docs) skipped by concat_ws — identical to
    * [[signatureFromDigests]] by the kernel's twin contract.
    */
  def signatureFromMinhashes(mh: Column): Column =
    concat_ws("|", (0 until numHashes).map(h => element_at(mh, h + 1)): _*)

  /** LSH band keys from the kernel minima — identical to
    * [[bandKeysFromDigests]] by the kernel's twin contract; the per-band
    * sha256 over two 8-hex strings is a plain codegen scalar.
    */
  def bandKeysFromMinhashes(mh: Column): Column = {
    val r = numHashes / numBands
    array((0 until numBands).map { b =>
      val parts = (0 until r).map(j => element_at(mh, b * r + j + 1))
      concat(lit(s"$b:"), sha2(concat_ws("|", parts: _*), 256))
    }: _*)
  }

  /** k-word shingle array (k = [[shingleSize]]) from a token array. Docs
    * with fewer than k tokens yield the empty array — the `when` guard is
    * load-bearing: `sequence(1, 0)` steps DOWNWARD in Spark ([1, 0]) and
    * `element_at(toks, i + 2)` then throws on the out-of-range index.
    */
  def shingles(toks: Column): Column =
    when(size(toks) >= shingleSize,
      transform(
        sequence(lit(1), size(toks) - (shingleSize - 1)),
        i => concat_ws(" ",
          element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2))))
      .otherwise(typedLit(Seq.empty[String]))

  /** DuckDB twin of [[shingles]] over a list expr. */
  def shinglesSqlDuck(toks: String): String =
    s"list_transform(range(1, greatest(len($toks) - ${shingleSize - 1}, 0) + 1), " +
      s"i -> $toks[i] || ' ' || $toks[i+1] || ' ' || $toks[i+2])"

  /** The h-th MinHash of a shingle list (DuckDB): string-min over the h-th
    * 8-hex slice of the shingle's sha256 (the standard split-one-digest
    * trick: 8 independent 32-bit hash functions from a single sha256 —
    * on the Spark side the kernel and [[shingleDigests]] hash each shingle
    * once, 8× fewer hash ops than hashing per-h, which dominates MinHash
    * cost at corpus scale).
    */
  def minhashSqlDuck(sh: String, h: Int): String =
    s"list_min(list_transform($sh, s -> substr(sha256(s), ${h * 8 + 1}, 8)))"

  /** One sha256 digest per shingle, computed once and sliced by the per-h
    * minhash variants below. Materialize this as a column (`withColumn`)
    * before fanning out into the 8 minhash expressions: Catalyst's
    * subexpression elimination does not reach into separate lambda bodies,
    * so inlining would hash every shingle 8 times.
    */
  def shingleDigests(sh: Column): Column = transform(sh, s => sha2(s, 256))

  def minhashFromDigests(dg: Column, h: Int): Column =
    array_min(transform(dg, d => substring(d, h * 8 + 1, 8)))

  def signatureFromDigests(dg: Column): Column =
    concat_ws("|", (0 until numHashes).map(minhashFromDigests(dg, _)): _*)

  def bandKeysFromDigests(dg: Column): Column = {
    val r = numHashes / numBands
    array((0 until numBands).map { b =>
      val parts = (0 until r).map(j => minhashFromDigests(dg, b * r + j))
      concat(lit(s"$b:"), sha2(concat_ws("|", parts: _*), 256))
    }: _*)
  }

  /** Full signature as one pipe-joined string (stable compare). */
  def signatureSqlDuck(sh: String): String =
    "concat_ws('|', " + (0 until numHashes).map(minhashSqlDuck(sh, _)).mkString(", ") + ")"

  /** LSH band keys: band b hashes minhashes [b*r, b*r+r). Emitted as
    * "b:sha256(m_i||m_j)" strings; explode + self-join on the band key
    * yields the candidate pairs. Bucket-join beats all-pairs at scale: the
    * shuffle key is the band digest, so only near-duplicates collide.
    */
  def bandKeysSqlDuck(sh: String): Seq[String] = {
    val r = numHashes / numBands
    (0 until numBands).map { b =>
      val parts = (0 until r).map(j => minhashSqlDuck(sh, b * r + j))
      s"'$b:' || sha256(concat_ws('|', ${parts.mkString(", ")}))"
    }
  }

  /** Candidate pairs from an exploded (idCol, band) relation: bucket-
    * grouped pair expansion with the [[maxBucket]] cap enforced BEFORE the
    * collect, via a count window over the band partition — ONE scan of the
    * (expensive) band lineage and ONE exchange: the window's hash-
    * partitioning on `band` is reused by the following groupBy. Filtering
    * after `collect_list` would materialize a hot band's million-element
    * array in one aggregation buffer; the window buffers the same rows but
    * SPILLS, and the array is only built for under-cap buckets. (A count
    * pre-pass + self-join also works but scans the band lineage twice —
    * measured 2× slower with sha256-bearing lineage.) Returns
    * (da, db, n_bands) with da < db.
    */
  def lshCandidatePairs(bands: DataFrame, idCol: String = "doc_id",
      maxBucketSize: Int = maxBucket): DataFrame = {
    val w = Window.partitionBy(col("band"))
    bands.withColumn("bn", count(lit(1)).over(w))
      .filter(col("bn") > 1 && col("bn") <= maxBucketSize)
      .groupBy("band")
      .agg(sort_array(collect_list(col(idCol))).as("ds"))
      .select(explode(flatten(transform(col("ds"), (x, i) =>
        transform(slice(col("ds"), i + lit(2), size(col("ds"))),
          y => struct(x.as("da"), y.as("db")))))).as("p"))
      .groupBy(col("p.da").as("da"), col("p.db").as("db"))
      .agg(count(lit(1)).as("n_bands"))
  }

  /** The bands [[lshCandidatePairs]] skipped: (band, n) with n above the
    * cap. Callers MUST surface this (log/metric) — capped-out buckets are
    * a disclosed coverage bound, not silent truncation.
    */
  def lshOverflowBands(bands: DataFrame,
      maxBucketSize: Int = maxBucket): DataFrame =
    bands.groupBy("band").agg(count(lit(1)).as("n"))
      .filter(col("n") > maxBucketSize)

  // ---- SimHash (16-bit, token-multiplicity weighted) ----------------------
  // bit j of a token = parity of the (j+1)-th hex digit of sha256(token);
  // document bit j = 1 iff Σ_tokens (2*bit−1) > 0. Engine-agnostic via the
  // strpos-in-hex-alphabet trick shared with DuckDB.

  val simhashBits = 16

  def tokenBit(tok: Column, j: Int): Column =
    conv(substring(sha2(tok, 256), j + 1, 1), 16, 10).cast("int") % 2

  /** SimHash over an exploded (docKey, token) relation: groupBy docKey with
    * 16 signed sums, then pack bits. Returns (keyCols..., simhash:long).
    */
  def simhash(tokensExploded: DataFrame, keyCols: Seq[String],
      tokenCol: String = "token"): DataFrame = {
    val sums = (0 until simhashBits).map { j =>
      sum(tokenBit(col(tokenCol), j) * 2 - 1).as(s"s$j")
    }
    val packed = (0 until simhashBits).map { j =>
      when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    tokensExploded.groupBy(keyCols.map(col): _*)
      .agg(sums.head, sums.tail: _*)
      .select(keyCols.map(col) :+ packed.as("simhash"): _*)
  }

  def simhashSqlDuck(keyCols: Seq[String], tokenExpr: String, from: String): String = {
    val sums = (0 until simhashBits).map { j =>
      s"sum(((strpos('0123456789abcdef', substr(sha256($tokenExpr), ${j + 1}, 1)) - 1) % 2) * 2 - 1) AS s$j"
    }
    val packed = (0 until simhashBits)
      .map(j => s"CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END")
      .mkString(" + ")
    s"(SELECT ${keyCols.mkString(", ")}, CAST($packed AS BIGINT) AS simhash FROM " +
      s"(SELECT ${keyCols.mkString(", ")}, ${sums.mkString(", ")} FROM $from " +
      s"GROUP BY ${keyCols.mkString(", ")}) g)"
  }

  /** Jaccard similarity of two string-array columns (distinct-set). */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")
}
