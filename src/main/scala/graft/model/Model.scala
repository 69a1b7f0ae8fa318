package graft.model

/** Core data model for the entity-resolution engine.
  *
  * The canonical input row is an interleaved text+media document: a
  * `doc_id` plus an ordered sequence of spans. This mirrors the
  * reference's flat JSON record (/root/reference/test/fixtures/
  * customers.jsonl:1 — dynamic field set, string values) re-expressed
  * as a span sequence per BASELINE.json `input_hint`:
  * `kind` = lowercased source field role, `text` = value (null for
  * media spans), `media_ref` = media pointer (null for text spans),
  * `offset` = 0-based original field order.
  *
  * Per-row invariant carried through every stage: span-sequence
  * equality (kind, text, media_ref, order).
  */
final case class Span(kind: String, text: String, media_ref: String, offset: Int)

final case class Doc(doc_id: String, spans: Seq[Span])
