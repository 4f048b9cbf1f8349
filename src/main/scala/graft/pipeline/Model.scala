package graft.pipeline

import java.sql.Timestamp

/** Columnar row types of the KG-construction pipeline (BASELINE.json
  * input_hint / FIXTURES.md schemas). All flat, Encoder-friendly, no
  * nested types on hot paths.
  */
final case class Page(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String
)

/** One emitted triple, N-Triples-style term encoding in flat string
  * columns; `url` is the provenance/graph scope (bnode labels are
  * already url-scoped by the extractor).
  */
final case class TripleRow(
    url: String,
    subj: String,
    pred: String,
    obj: String,
    objKind: String, // iri | bnode | literal
    lang: String, // null unless lang-tagged literal
    // null for IRIs, blank nodes and plain (xsd:string) literals;
    // rdf:langString for every lang-tagged literal; else the datatype IRI
    datatype: String
)

/** N-Quads row: [[TripleRow]] plus the graph label — null for the
  * default graph, otherwise an IRI string or a scoped "_:label" bnode
  * (same term convention as subj/obj).
  */
final case class QuadRow(
    url: String,
    subj: String,
    pred: String,
    obj: String,
    objKind: String,
    lang: String,
    datatype: String,
    graph: String
)

/** Per-partition lineage/metrics row (north_rule): one per extraction
  * task, written to the metrics table alongside stage outputs. Under
  * KgPipeline the task also writes its partition's triples as it
  * extracts them, so `wallMs` includes that write.
  */
final case class LineageRow(
    stage: String,
    partitionId: Int,
    inputSplit: String,
    pages: Long,
    tripleCount: Long,
    parseErrorCount: Long,
    wallMs: Long
)

/** Union row produced by the single-pass extraction: exactly one of
  * `triple`/`lineage` is set. Lets one mapPartitions pass feed both the
  * triples table and the metrics table without a second scan of the
  * (100 TB) page table.
  */
final case class ExtractOut(
    triple: Option[TripleRow],
    lineage: Option[LineageRow]
)

/** Multimodal asset row: opaque binary payload + typed metadata. */
final case class AssetRow(
    asset_id: Long,
    url: String,
    kind: String, // image | audio | video
    payload: Array[Byte],
    width: Int,
    height: Int,
    durationMs: Int
)

final case class AssetFeatures(
    asset_id: Long,
    kind: String,
    ok: Boolean,
    features: Array[Float], // decoded/extracted feature vector
    frames: Int
)
