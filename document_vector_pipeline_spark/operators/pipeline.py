"""The end-to-end ingestion pipeline: blobs → parse → chunk → embed → store.

Parity: HandleBlobCreateEventAsync (BlobTriggerFunction.cs:58-116) —
extension routing, chunking at the configured token budget, batched
embedding, upsert into the vector store.  The reference processes one blob
per function invocation with manual batching (MaxBatchSize=10) and manual
parallelism (MaxDegreeOfParallelism=50); here the whole corpus is one
declarative plan and Spark's task scheduler provides the parallelism, so
the same code scales from one blob to 100 TB of them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from document_vector_pipeline_spark.config import DEFAULT_CONFIG, PipelineConfig
from document_vector_pipeline_spark.functions import chunking as C
from document_vector_pipeline_spark.operators.embed import add_embeddings
from document_vector_pipeline_spark.operators.parse import (
    analysis_text_units,
    route_blobs,
)
from document_vector_pipeline_spark.store.vector_store import VectorStore


def blobs_to_chunks(blobs: DataFrame,
                    cfg: PipelineConfig = DEFAULT_CONFIG) -> DataFrame:
    """Route + parse + chunk blob rows (document_url, content).

    .txt/.md blobs take the line/markdown token-budget path
    (BlobTriggerFunction.cs:70-84); everything else goes through the
    analyzer fallback cascade (DocumentChunker.cs:40-56) and is chunked
    from its text units with the same token budget.
    """
    routed = route_blobs(blobs)
    is_lines = F.col("route").isin("text", "markdown")
    if cfg.chunk_mode == "sk_paragraphs":
        # the reference's ACTUAL chunker routing: .txt/.md lines go
        # through SplitMarkdownParagraphs (BlobTriggerFunction.cs:69-81),
        # analyzer output through SplitPlainTextParagraphs
        # (DocumentChunker.cs:59-60) — both at the same token budget
        stream = F.when(
            is_lines, F.regexp_replace(F.col("content"), r"\r\n?", "\n"),
        ).otherwise(F.array_join(analysis_text_units(F.col("analysis")),
                                 "\n"))
        chunks = F.when(
            is_lines,
            C.token_paragraph_chunks(stream, cfg.max_tokens_per_chunk,
                                     markdown=True),
        ).otherwise(
            C.token_paragraph_chunks(stream, cfg.max_tokens_per_chunk))
    else:
        units = F.when(
            is_lines,
            # line-based: normalize the line array back to one text stream
            F.array_join(
                F.filter(F.transform(F.split(F.col("content"), r"\r?\n"),
                                     F.trim),
                         lambda ln: ln != F.lit("")), " "),
        ).otherwise(F.array_join(analysis_text_units(F.col("analysis")),
                                 " "))
        words = C.norm_words(units)
        spans = C.token_budget_spans(words, cfg.max_tokens_per_chunk,
                                     cfg.overlap_words)
        chunks = C.spans_to_chunks(words, spans)
    return (routed
            .select("document_url",
                    F.posexplode(chunks).alias("chunk_number", "ch"))
            .select("document_url",
                    F.col("chunk_number").cast("int"),
                    F.col("ch.chunk_text").alias("chunk_text"),
                    F.col("ch.page_number").alias("page_number")))


def ingest_blobs(blobs: DataFrame, store: VectorStore,
                 cfg: PipelineConfig = DEFAULT_CONFIG) -> int:
    """Full create-event handling for a batch of blobs; returns #chunks."""
    chunks = add_embeddings(blobs_to_chunks(blobs, cfg), cfg=cfg)
    store.upsert(chunks)
    return store.read().count()


def documents_table_to_store(docs: DataFrame, store: VectorStore,
                             cfg: PipelineConfig = DEFAULT_CONFIG) -> None:
    """Adapter: treat the testdata `documents` table as a blob container
    (doc_id → synthetic document_url)."""
    blobs = docs.select(
        F.concat(F.lit("mem://documents/"), F.col("doc_id").cast("string"),
                 F.lit(".txt")).alias("document_url"),
        F.col("text").alias("content"))
    chunks = add_embeddings(blobs_to_chunks(blobs, cfg), cfg=cfg)
    store.upsert(chunks)


def apply_blob_events(events: DataFrame, store: VectorStore,
                      cfg: PipelineConfig = DEFAULT_CONFIG) -> None:
    """Apply a mixed batch of blob create/delete events to the store —
    the reference's two event branches (HandleBlobCreateEventAsync /
    HandleBlobDeleteEventAsync, BlobTriggerFunction.cs:42-56) as ONE
    idempotent CDC apply.

    Semantics: last event per document_url wins (``seq`` orders events
    within the batch).  Every touched url's old chunks are dropped —
    including re-creates, so a document shrinking from 5 chunks to 3
    leaves no stale tail (plain upsert merges by (url, chunk_id) and
    would) — and surviving creates run the normal parse → chunk → embed
    pipeline.

    Cost: one merge, one rewrite per batch (``VectorStore.apply_changes``).
    The batch's chunk and embedding rows are checkpointed once, so
    parse → chunk → embed is evaluated once; each bucket hosting a
    touched url is read once, loses the touched urls' rows (broadcast
    anti-join), gains the new rows and is overwritten once.  Into a
    store that does not exist yet the chunk rows are one plain write.

    The url list crosses the driver (one url per event, deduplicated
    there): bounded by the event batch size (a trigger interval of blob
    notifications), not the corpus, the same plan-metadata scale as
    bloom bitmaps."""
    from pyspark.sql import Window

    w = Window.partitionBy("document_url").orderBy(F.desc("seq"))
    last = (events.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1))
    # every url with an event is touched: no window needed for the list
    touched = list(dict.fromkeys(
        r[0] for r in events.select("document_url").collect()))
    creates = (last.filter(F.col("op") == "create")
               .select("document_url", "content"))
    store.apply_changes(
        touched, add_embeddings(blobs_to_chunks(creates, cfg), cfg=cfg))
