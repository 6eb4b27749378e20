package graft

import java.sql.Timestamp

/** Typed row models for the harness tables (SURVEY.md §1.1: `Dataset[T]`
  * with case-class Encoders where type safety helps — pipeline code that
  * survives refactors; `DataFrame` elsewhere where schema is dynamic).
  */
package object model {
  case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
                   o_totalprice: Double, o_orderdate: Timestamp, o_orderpriority: String)
  case class Document(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double, props: String)
}
