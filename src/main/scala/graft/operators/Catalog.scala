package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Catalog/listing surface (SURVEY §2.C): full-collection scan and
  * distinct documents (C3, chunks grouped per document, is built inline
  * by `c3_chunks_by_doc`). All built-ins; Catalyst prunes
  * the wide columns (`content`, `embedding`) out of the parquet scan when
  * the projection doesn't need them — the C2 listing reads 2 columns of a
  * ~4 KB row, which at 100 TB is the difference between a metadata-sized
  * scan and a full-table read. */
object Catalog {

  /** C1: full scan of one collection (`store.get()`, `app.py:464`). */
  def collectionScan(chunks: DataFrame, collection: String,
                     collectionCol: String = "collection"): DataFrame =
    chunks.filter(col(collectionCol) === collection)

  /** C2: distinct documents — dedup by doc_id keeping the first-seen
    * doc_name (`app.py:466-473`; "first" = lowest chunk_index, made
    * deterministic via min_by on the unique ordering key). */
  def distinctDocuments(chunks: DataFrame, docCol: String = "doc_id",
                        nameCol: String = "doc_name",
                        orderCol: String = "chunk_index"): DataFrame =
    chunks.groupBy(col(docCol))
      .agg(
        min_by(col(nameCol), col(orderCol)).as(nameCol),
        count(lit(1)).as("chunk_count"))
}
