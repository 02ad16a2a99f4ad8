package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.operators._

/** The end-to-end KG-construction pipeline (north rule): ingest the Doc
  * table → cleanup → sentence split → dedup/cache → deterministic tagging →
  * confidence threshold → entity linking → canonicalization → (subj, pred,
  * obj) triple materialization partitioned by (repo, lang).
  *
  * Spark restatement of the reference's `/api/v1/ner` lifecycle
  * (SURVEY.md §3.1): the four zmq process boundaries become at most three
  * shuffles — sentence-key dedup, link window, final group-by — and two of
  * them collapse when the gazetteer side is broadcast.
  */
object KgPipeline {

  /** Stage 1-2: sentence explode (order preserved via sent_idx). Cleanup
    * happens INSIDE the splitter, exactly once over the raw text plus once
    * per emitted sentence — the reference shape (`ner.py:171` hands raw
    * text to `sentsplitter.py:22-29`, which cleans internally; there is no
    * pre-clean). A pre-clean here would both diverge (cleanup is
    * non-idempotent on soft-hyphen runs) and cost an extra full pass over
    * the corpus.
    */
  def sentences(docs: DataFrame): DataFrame =
    Splitter.explodeSentences(docs)

  /** Mention tagging over sentences, Catalyst-only (no spans). */
  def sentenceMentions(docs: DataFrame): DataFrame =
    Tagger.tagMentions(sentences(docs), "sentence")

  /** Doc-level mention tagging — skips the sentence split for pipelines
    * that do not need sentence provenance (the chunk granularity vanishes
    * in the final group-by anyway, reference `ner.py:196-203` / A4).
    */
  def docMentions(docs: DataFrame): DataFrame =
    Tagger.tagMentions(
      docs.withColumn("cleaned", Text.cleanup(col("content"))).drop("content"),
      "cleaned")

  /** Threshold (P4) + linking (J2) over a mention relation carrying
    * (repo, path, commit, lang, label, mention, confidence).
    */
  def links(spark: SparkSession, mentions: DataFrame): DataFrame =
    Linker.link(spark,
      mentions.filter(col("confidence") >= Tagger.threshold),
      Seq("repo", "path", "commit"))

  /** Canonicalization (J3): connected components over the co-occurrence
    * graph of linked entities, returning a (entity_id, canon_id) map.
    */
  def canonMap(spark: SparkSession, links: DataFrame,
      keyCols: Seq[String] = Seq("repo", "path")): DataFrame = {
    // ONE exchange over the links relation: groupBy(doc) + collect_set.
    // The previous shape (global distinct → window min → edge distinct)
    // exchanged the full relation TWICE — once hashed on (doc, entity)
    // for the distinct, once on (doc) for the window — and its round-3
    // LocalDistinct pre-shrink traded an unspillable per-partition hash
    // set for one of them. The partial aggregate here subsumes both:
    // duplicate (doc, entity) rows collapse MAP-SIDE into the partial
    // sets (spill-safe — ObjectHashAggregate falls back to sort-based
    // aggregation under pressure), and only one per-doc set row per doc
    // crosses the wire. A hot document linking 10^4 entities becomes one
    // 10^4-element array row, not a join/window hotspot. (Measured with
    // the driver union-find below: canonMap phase 6.7 → 2.5 s at 128×
    // replication, BENCH.md §24.)
    val narrow = links.select((keyCols :+ "entity_id").map(col): _*)
    val sets = narrow
      .groupBy(keyCols.map(col): _*)
      .agg(collect_set(col("entity_id")).as("es"))
      .select(col("es"))
    // (hub, member) pairs INCLUDING the (hub, hub) self-pair: the
    // self-pair registers an edge-less document's lone entity as a
    // vertex, so this single distinct relation carries the star edges
    // AND the vertex set (an entity linked with no co-occurring entity
    // must still appear in the map as its own canonical id).
    val pairs = starPairs(sets)
    // DICTIONARY-BOUNDED graph → driver union-find. Every entity_id comes
    // from the linker's broadcast gazetteer, so the distinct vertex set is
    // bounded by the dictionary (the same smallness assumption the
    // broadcast join already relies on) and the distinct pair set by
    // observed co-occurrence pairs. The corpus-sized work (the groupBy
    // sets, the explode + pair distinct) stays distributed; only the
    // dictionary-sized pair relation reaches the driver — bounded by a
    // limit-guard (spark.graft.cc.maxDriverGraph, default 2M rows, read
    // inside runAuto so every caller honors the same knob) with the
    // iterative distributed CC as the fallback for graphs that exceed
    // it. The fast path is ONE job end to end, replacing O(log d)
    // rounds of join/shuffle jobs (measured: the canonMap phase at 128×
    // replication dropped 6.7 → 2.5 s combined with the single-exchange
    // set build, BENCH.md §24; at 100 TB the collect stays
    // dictionary-bounded and the fallback stays available).
    // self-pairs union(v, v) register isolated vertices in the forest (and
    // as self-edges in the distributed fallback) without linking anything,
    // so the component map covers every vertex in both paths
    ConnectedComponents.runAuto(spark, pairs)
      .select(col("id").as("entity_id"), col("component").as("canon_id"))
  }

  /** (hub, member) pairs per doc-set row — STAR edges, not clique edges:
    * each entity connects to its document's minimum entity (the hub).
    * Connectivity — hence every connected component — is identical to the
    * all-pairs formulation: two entities co-occurring in a doc reach each
    * other through the doc's hub, and cross-doc paths compose hop-by-hop
    * exactly as with cliques. But a doc linking K entities emits K-1 edge
    * rows (plus the hub's self-pair) instead of K(K-1)/2: the
    * all-pairs self-join this replaces was the last join-explosion shape in
    * the flagship pipeline — one hot document linking 10^4 entities (a
    * README naming every product) would have pushed 5·10^7 rows through a
    * single join key. Input: per-doc entity-set rows (`es: array<string>`);
    * the hub is `array_min` of the set — no window, no extra exchange. The
    * final distinct collapses identical star pairs produced by different
    * documents (tiny: K rows per doc in, unique pairs out).
    */
  private[graft] def starPairs(sets: DataFrame): DataFrame =
    sets
      .select(array_min(col("es")).as("src"), explode(col("es")).as("dst"))
      .distinct()

  /** Final triple relation:
    * subj = repo/path@commit, pred = mentions:<label>, obj = entity id
    * (canonical when `canonicalize`), with (repo, lang) provenance.
    */
  def triples(spark: SparkSession, docs: DataFrame,
      canonicalize: Boolean = false, sentenceLevel: Boolean = false,
      assumeUniqueDocs: Boolean = false): DataFrame = {
    val mentions = if (sentenceLevel) sentenceMentions(docs) else docMentions(docs)
    val linked = links(spark, mentions)
    val cm =
      if (canonicalize) {
        // The links lineage is deliberately RECOMPUTED for the two canon
        // consumers (the co-occurrence graph and the join-back). TWO
        // measured negatives pin this shape: (1) a localCheckpoint of the
        // narrow link projection accumulated checkpoint blocks across
        // repeated calls until GC exploded (BENCH.md §25); (2) a
        // dedup-first restructure — distinct the narrow pre-canon relation
        // once, persist it bounded-swap, build the canon map from it,
        // re-distinct after the merge join — read ~30% SLOWER with 5× the
        // shuffle bytes and +35% executor runTime, listener-verified
        // (BENCH.md §33): the columnar cache build plus the extra
        // exchanges cost more than the tag pass they save, because the
        // merged-literal tag scan is cheap per byte. Recompute narrow
        // lineage, don't pin intermediates.
        Some(canonMap(spark, linked))
      } else None
    linkTriples(linked, cm, assumeUniqueDocs)
  }

  /** Links → triples: resolve each link's obj through the optional canon
    * map (entity_id → canon_id, unmapped ids keep their own), dedup, then
    * project subj/pred. The one definition behind [[triples]] and the
    * staged `graft.Main.run`.
    */
  def linkTriples(links: DataFrame, canonMap: Option[DataFrame],
      assumeUniqueDocs: Boolean = false): DataFrame = {
    val resolved = canonMap match {
      case Some(cm) =>
        links.join(broadcast(cm), Seq("entity_id"), "left")
          .withColumn("obj", coalesce(col("canon_id"), col("entity_id")))
      case None => links.withColumn("obj", col("entity_id"))
    }
    // Dedup on the NARROW key columns first, then project the subj/pred
    // strings: a triple is unique per (doc key, label, obj) — deduping
    // before the concat shuffles fewer bytes and computes the string build
    // once per surviving row instead of once per mention occurrence. (It is
    // also the domain-correct key: dedup on the concatenated subj would
    // merge distinct docs whose repo/path happen to concat-collide.)
    //
    // With `assumeUniqueDocs = true` — an explicit OPT-IN for callers
    // who can assert that (repo, path, commit) is a primary key of their
    // input — the dedup is the custom SHUFFLE-FREE LocalDistinct
    // operator: every duplicate triple then derives from ONE document
    // row through a narrow lineage (explode → filter → broadcast join →
    // project never move rows across partitions), so equal rows are
    // always co-partitioned and the global distinct's full-relation hash
    // exchange — the single largest data movement in the flagship job —
    // carries zero information. The DEFAULT stays the exchange-based
    // global distinct: it is correct for arbitrary inputs (replayed
    // docs, committed-snapshot re-reads) and spill-safe; measured trade
    // in BENCH.md §21/§23 (the opt-in raises throughput at every
    // parallelism level, most where shuffle cost bites hardest).
    val narrow = resolved.select("repo", "path", "commit", "lang", "label", "obj")
    val deduped =
      if (assumeUniqueDocs) graft.plans.LocalDistinct.of(narrow)
      else narrow.distinct()
    deduped
      .select(
        concat_ws("@", concat_ws("/", col("repo"), col("path")), col("commit"))
          .as("subj"),
        concat(lit("mentions:"), col("label")).as("pred"),
        col("obj"),
        col("repo"), col("lang"))
  }
}
