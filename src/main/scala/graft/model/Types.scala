package graft.model

/** Core typed data model for the KG-construction engine.
  *
  * `Doc` is exactly the `input_hint` contract from BASELINE.json:
  * an Iceberg-shaped table of source-code repositories
  * `(repo, path, commit, lang, content)`. The driver bench tables
  * (`documents.parquet`) are mapped onto this shape by
  * [[graft.sources.Tables.docsDf]].
  */
final case class Doc(
    repo: String,
    path: String,
    commit: String,
    lang: String,
    content: String)

/** A recognized entity mention with span info, mirroring the flair
  * `Sentence.to_dict()` entity shape the reference emits at
  * `modelServer.py:65-79` (text, label value, confidence, start/end pos).
  */
final case class Entity(
    text: String,
    label: String,
    confidence: Double,
    begin: Int,
    end: Int)

/** A knowledge-graph triple with provenance, the north-rule output:
  * subj = repo-qualified document id, pred = "mentions:<label>",
  * obj = canonical entity id.
  */
final case class Triple(
    subj: String,
    pred: String,
    obj: String,
    repo: String,
    lang: String)

/** Alias-dictionary row for entity linking (broadcast side).
  * `aliasNorm` is lower-cased + article-stripped, mirroring the
  * reference lemmatizer's ART-token drop (`middlewareServer.py:113-119`).
  */
final case class AliasEntry(
    alias_norm: String,
    entity_id: String,
    label: String,
    prior: Double,
    pref_lang: String)

/** Persisted tag-cache row (reference `cacheServer.py` ndjson KV,
  * keyed by uuid5(sentence) at `cacheServer.py:34`; we standardize on
  * sha256 per the BASELINE.json row invariant).
  */
final case class CacheRow(
    k: String,
    sentence: String,
    entities: Seq[Entity],
    ingest_ts: Long)
