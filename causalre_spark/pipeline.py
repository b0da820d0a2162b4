"""End-to-end pages -> triples pipeline.

Stage order mirrors the reference's inference forward pass
(model.py:728-1134), with the per-document pruning cascade fused into a
single Arrow UDF crossing (see model/udfs.py rationale) and all
cross-document work as DataFrame algebra:

  pages --(filter lang)--> fused doc-extract UDF
        --> spans / relations (explode)         [per-doc arrays -> rows]
        --> entity linking (MinHash-LSH + CC)   [relational]
        --> canonical triple aggregation        [relational]

Scale design (local[32] here; reasoning at 1000 executors):
  - no repartition before the UDF: the parquet scan's size-based splits
    balance it (the unit of work is the document, so hot Zipf domains
    do not concentrate); residual join skew is AQE's job.
  - the fused UDF bounds per-doc output by k/k² (top-k inside), so the
    exploded spans/rels tables are ~10-100x smaller than the candidate
    sets — those never hit a shuffle.
  - linking shuffles on content-derived keys (shingles, band keys,
    component labels) — uniform by construction.
  - checkpointed stage boundaries (parquet + _SUCCESS) give resume;
    per-stage, per-partition lineage rows go to a metrics table
    (north_rule).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from causalre_spark.config import DEFAULT_CONFIG, PipelineConfig
from causalre_spark.model.udfs import DOC_EXTRACT_SCHEMA, make_doc_extract_udf
from causalre_spark.operators import linking


class StageIO:
    """Checkpoint/resume + lineage for stage boundaries.

    With a workdir, each stage materializes to parquet; completed stages
    (parquet _SUCCESS present) are skipped on rerun. Without one, stages
    flow through as lazy DataFrames (tests / small corpora).
    """

    def __init__(self, spark: SparkSession, workdir: str | None, resume: bool = True,
                 table_namespace: str | None = None):
        self.spark = spark
        self.workdir = workdir
        self.resume = resume
        self.table_namespace = table_namespace
        self.metrics: list[dict] = []

    def _path(self, name: str) -> str:
        return os.path.join(self.workdir, name)

    def _table_ident(self, name: str) -> str:
        """Qualified table identifier for catalog-managed sinks (iceberg):
        a bare stage name would resolve against the current database and
        collide across pipelines."""
        return f"{self.table_namespace}.{name}" if self.table_namespace else name

    def table_done(self, name: str) -> bool:
        """Doneness for catalog-managed stages = the table exists in the
        catalog (writeTo never creates a parquet _SUCCESS marker)."""
        if not self.resume:
            return False
        return bool(self.spark.catalog.tableExists(self._table_ident(name)))

    def done(self, name: str) -> bool:
        if self.workdir is None or not self.resume:
            return False
        marker = os.path.join(self._path(name), "_SUCCESS")
        # Hadoop FS API so resume works against object stores
        # (s3a://, abfs://, hdfs://) exactly like the local FS
        try:
            jvm = self.spark._jvm
            hpath = jvm.org.apache.hadoop.fs.Path(marker)
            fs = hpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
            return bool(fs.exists(hpath))
        except Exception:  # pragma: no cover — non-JVM fallback
            return os.path.exists(marker)

    def checkpoint(self, name: str, df_fn, partition_expr: str | None = None,
                   table_format: str = "parquet") -> DataFrame:
        """Materialize a stage boundary; skip if already done (resume).

        partition_expr: optional SQL expression for a derived partition
        column (S5 partitioned sink — e.g. a cause-id bucket for the
        triples table). The column is written as `_p`, used only for
        physical layout (partition pruning on downstream reads), and
        dropped from the returned DataFrame.

        table_format 'iceberg' maps to df.writeTo(...).partitionedBy(...)
        on a cluster with an Iceberg catalog; this sandbox has no
        catalog jars, so the parquet path carries the same physical
        layout (directory-partitioned by the bucket expression).
        """
        if self.workdir is None:
            return df_fn()
        if table_format == "iceberg":
            # catalog-managed branch: write via DataFrameWriterV2, read
            # back via the catalog (NOT the parquet path — writeTo never
            # writes there), and detect doneness via tableExists (writeTo
            # never creates a _SUCCESS marker).
            ident = self._table_ident(name)
            if not self.table_done(name):
                df = df_fn()
                if partition_expr:
                    df = df.withColumn("_p", F.expr(partition_expr))
                    df.writeTo(ident).using("iceberg").partitionedBy(
                        F.col("_p")).createOrReplace()
                else:
                    df.writeTo(ident).using("iceberg").createOrReplace()
            out = self.spark.read.table(ident)
        else:
            path = self._path(name)
            if not self.done(name):
                df = df_fn()
                if partition_expr:
                    df.withColumn("_p", F.expr(partition_expr)) \
                        .write.mode("overwrite").partitionBy("_p").parquet(path)
                else:
                    df.write.mode("overwrite").parquet(path)
            out = self.spark.read.parquet(path)
        if "_p" in out.columns:
            out = out.drop("_p")
        self._lineage(name, out)
        return out

    def _lineage(self, name: str, df: DataFrame) -> None:
        rows = (
            df.groupBy(F.spark_partition_id().alias("partition"))
            .agg(F.count(F.lit(1)).alias("rows"))
            .collect()
        )
        for r in rows:
            self.metrics.append(
                {"stage": name, "partition": int(r["partition"]), "rows": int(r["rows"])}
            )

    def write_metrics(self) -> None:
        if self.workdir is None or not self.metrics:
            return
        (
            self.spark.createDataFrame(
                [(m["stage"], m["partition"], m["rows"]) for m in self.metrics],
                schema="stage string, partition int, rows long",
            )
            .write.mode("overwrite")
            .parquet(self._path("_metrics"))
        )


TRIPLES_SCHEMA = ("cause_id long, cause string, predicate string, "
                  "effect_id long, effect string, n_evidence long, max_score float")


def canonical_triples(kept: DataFrame, rels: DataFrame, entities: DataFrame,
                      cleanup: list | None = None,
                      form_map: DataFrame | None = None) -> DataFrame:
    """(kept spans, relations, entities) -> deduped canonical triples.

    Shared by the batch pipeline and the streaming->batch bridge
    (streaming.ingest.link_streamed_batch) so both produce identical
    graph rows. One broadcast dictionary: DISTINCT raw mention surface
    -> (canonical_id, canonical_form); the relation stream joins it
    map-side twice (head/tail) and never shuffles or re-normalizes.
    The dictionary is persisted (two broadcast consumers); the handle is
    appended to `cleanup` for release after the caller's terminal action.

    form_map: optional pre-built (text -> form) dictionary shared with
    link_mentions (see link_and_materialize) — skips a second full
    distinct+normalize pass over the mention table.
    """
    if form_map is None:
        form_map = linking.mention_form_map(kept.select("text"))
    canon_map = (
        form_map
        .join(entities, "form")
        .select("text", "canonical_id", "canonical_form")
        .persist()
    )
    if cleanup is not None:
        cleanup.append(canon_map)
    joined = (
        rels.join(
            F.broadcast(canon_map.withColumnRenamed("text", "h_text")
                        .withColumnRenamed("canonical_id", "cause_id")
                        .withColumnRenamed("canonical_form", "cause")),
            "h_text",
        )
        .join(
            F.broadcast(canon_map.withColumnRenamed("text", "t_text")
                        .withColumnRenamed("canonical_id", "effect_id")
                        .withColumnRenamed("canonical_form", "effect")),
            "t_text",
        )
        .filter(F.col("cause_id") != F.col("effect_id"))
    )
    # A8 at corpus scale: canonical triple dedup + evidence agg.
    # predicate derives from the N12 multilabel rel type ('causal' ->
    # 'CAUSES'; any other schema type -> its uppercase name)
    predicate = F.when(F.col("rel_type") == "causal", "CAUSES") \
        .otherwise(F.upper("rel_type"))
    return (
        joined.withColumn("predicate", predicate)
        .groupBy("cause_id", "cause", "predicate", "effect_id", "effect")
        .agg(
            F.count(F.lit(1)).alias("n_evidence"),
            F.max("rel_score").alias("max_score"),
        )
        .select(
            "cause_id", "cause", "predicate",
            "effect_id", "effect", "n_evidence", "max_score",
        )
    )


def write_bucketed_graph(spark: SparkSession, triples: DataFrame,
                         name: str = "kg_triples", buckets: int = 64,
                         ) -> DataFrame:
    """S5 at READ time: persist the graph table BUCKETED by cause_id
    (hash-bucketed files + per-file sort by (cause_id, effect_id)).

    Partitioned parquet (the checkpoint sink) prunes IO; bucketing goes
    further: every downstream equi-join or aggregation on cause_id —
    graph self-joins (2-hop paths), entity-expansion joins, evidence
    re-aggregation — reads both sides already co-partitioned, so Spark
    elides the shuffle exchange entirely (tests assert the plan). At
    10^12 triples the repeated exchange of the graph table is the cost
    that dominates iterative graph workloads; paying one bucketed write
    amortizes it across every subsequent join. Bucket count is a
    data-volume knob: 64 here, thousands on a real cluster.

    Uses saveAsTable (bucket metadata lives in the catalog — plain
    .parquet() files cannot carry it); same API against Iceberg, which
    stores the equivalent as a bucket partition transform."""
    (triples.write.mode("overwrite").format("parquet")
     .bucketBy(buckets, "cause_id").sortBy("cause_id", "effect_id")
     .saveAsTable(name))
    return spark.table(name)


def extract_docs(pages: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Per-document extraction (the expensive Arrow-UDF crossing), shared
    by the full, incremental and streamed runs. No repartition: the
    parquet scan's size-based splits (maxPartitionBytes) balance the UDF
    stage with zero shuffle, residual skew is AQE's job, and the same
    plan runs unchanged on a stream."""
    return pages.filter(F.col("lang") == "en") \
        .select("url", "html", F.col("text").alias("expected_text")) \
        .mapInPandas(make_doc_extract_udf(cfg), schema=DOC_EXTRACT_SCHEMA)


def explode_spans(docs: DataFrame) -> DataFrame:
    return docs.select("url", F.explode("spans").alias("sp")).select(
        "url", "sp.start", "sp.end", "sp.tag_score", "sp.filter_score",
        "sp.span_type", "sp.text")


def explode_rels(docs: DataFrame) -> DataFrame:
    return docs.select("url", F.explode("rels").alias("r")).select(
        "url", "r.h_start", "r.h_end", "r.t_start", "r.t_end",
        "r.rel_score", "r.rel_type", "r.h_text", "r.t_text")


def _extract_stage(io: StageIO, pages: DataFrame, cfg: PipelineConfig,
                   verify_extraction: bool, timings: dict | None = None,
                   ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """pages -> (docs, spans, relations) sinks, shared by run_pipeline and
    run_incremental: checkpoint docs, check the byte-identical extraction
    invariant on the sink, then explode spans/relations from the
    persisted docs. Callers persist the spans/relations they consume.

    With `timings`, docs are materialized eagerly and their wall time
    recorded under 'n_docs'/'docs_secs' (bench decomposition)."""
    docs = io.checkpoint("docs", lambda: extract_docs(pages, cfg))
    if verify_extraction:
        bad = docs.filter(~F.col("text_ok")).count()
        if bad:
            raise AssertionError(f"extraction not byte-identical for {bad} pages")
    docs = docs.persist()
    if timings is not None:
        t0 = time.time()
        timings["n_docs"] = docs.count()
        timings["docs_secs"] = round(time.time() - t0, 2)
    spans = io.checkpoint("spans", lambda: explode_spans(docs))
    rels = io.checkpoint("relations", lambda: explode_rels(docs))
    return docs, spans, rels


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    workdir: str | None = None,
    resume: bool = True,
    verify_extraction: bool = True,
    timings: dict | None = None,
) -> dict[str, DataFrame]:
    """Full pipeline; returns {'docs','spans','relations','entities','triples'}.

    With `timings`, each stage is materialized eagerly and its wall time
    recorded ('docs_secs', 'explode_secs', 'linking_secs')."""
    io = StageIO(spark, workdir, resume,
                 table_namespace=cfg.extra.get("table_namespace"))

    # Opt-in curation gate (cfg.extra['curation_gate']): fused INTO the
    # extraction UDF (model/udfs.py), not a relational pre-filter. A
    # relational filter on the gate signals gets re-inlined by Catalyst
    # into the pushed-down condition — split(normalize(text)) ends up
    # INSIDE the trigram lambda, re-evaluated per element (measured
    # 2.8 ms/page, 6x the whole fast-profile extract stage). Inside the
    # Arrow crossing the tokens are at hand and the gate costs ~free,
    # exactly like the reference's fused in-model pruning cascade. The
    # python twin (functions/text.curation_keep) is value-identical to
    # the relational gate column (tests assert bit-for-bit agreement),
    # so streamed flagging and batch gating never drift.
    docs, kept, rels = _extract_stage(io, pages, cfg, verify_extraction, timings)
    kept, rels = kept.persist(), rels.persist()
    if timings is not None:
        # materialize the explodes eagerly so the tail decomposes into
        # attributable stages (spans/rels vs linking vs triples) instead
        # of lazy work landing wherever the first action happens to be
        t0 = time.time()
        kept.count(); rels.count()
        timings["explode_secs"] = round(time.time() - t0, 2)
        t0 = time.time()

    cleanup: list[DataFrame] = []
    entities, triples = link_and_materialize(spark, io, kept, rels, cfg, cleanup)
    if timings is not None:
        entities.count()
        timings["linking_secs"] = round(time.time() - t0, 2)
    if workdir is not None:
        # triples are in the sink -> the tail's caches are dead weight
        # (sweep sessions run many pipelines and must not accumulate
        # cached blocks). Without a workdir the returned triples plan
        # still reads them.
        for df in cleanup:
            df.unpersist()
    io.write_metrics()
    return {
        "docs": docs,
        "spans": kept,
        "relations": rels,
        "entities": entities,
        "triples": triples,
    }


def link_and_materialize(spark: SparkSession, io: StageIO, kept: DataFrame,
                         rels: DataFrame, cfg: PipelineConfig, cleanup: list,
                         ) -> tuple[DataFrame, DataFrame]:
    """The one linking tail (full, incremental and streamed runs): entity
    linking over all kept mention surfaces + canonical triple
    materialization (S5 partitioned sink). Returns (entities persisted,
    triples); the tail's internal caches go into the caller-owned
    `cleanup` list, to be released once the caller has materialized the
    triples (sink write or localCheckpoint).

    early-exit: no extracted relations -> no triples, so the whole
    linking/canonicalization stage graph (LSH + jaccard verify + CC +
    canonical joins — most of the wall-clock on trigger-free corpora)
    is provably unnecessary. The empty answer is still oracle-gated:
    tests/test_pipeline_parity.py asserts exact (possibly empty)
    triple-set equality vs the single-process oracle on driver testdata.
    """
    if rels.isEmpty():
        entities = io.checkpoint("entities", lambda: spark.createDataFrame(
            [], linking.ENTITIES_SCHEMA))
        triples = io.checkpoint("triples", lambda: spark.createDataFrame(
            [], TRIPLES_SCHEMA))
        return entities, triples

    # the (raw mention text -> normalized form) dictionary is the ONE
    # full pass over the distinct mention surfaces; build it once and
    # share it between linking (which only needs the form column) and
    # the canonical triple join (which keys raw text to canonical ids).
    # Without sharing, each stage re-runs the distinct + normalization —
    # the most expensive relational scan of the tail, paid twice.
    rawmap = linking.mention_form_map(kept.select("text")).persist()
    cleanup.append(rawmap)

    # persisted: consumed twice (cause-side and effect-side broadcasts)
    entities = io.checkpoint(
        "entities", lambda: linking.link_mentions(
            kept.select("text"), cfg, form_map=rawmap)
    ).persist()

    # S5: the graph table is partitioned by a cause-id bucket so
    # downstream graph queries (all-edges-of-entity) prune partitions;
    # 64 buckets keeps files large at production scale while bounding
    # per-partition size (hash of the canonical id is uniform)
    triples = io.checkpoint(
        "triples",
        lambda: canonical_triples(kept, rels, entities, cleanup=cleanup,
                                  form_map=rawmap),
        partition_expr="pmod(cause_id, 64)",
        table_format=cfg.table_format)
    return entities, triples


def run_incremental(
    spark: SparkSession,
    pages: DataFrame,
    prev_workdir: str,
    workdir: str,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    resume: bool = True,
    verify_extraction: bool = True,
) -> dict[str, DataFrame]:
    """Incremental (delta) pipeline run over a Common-Crawl-style corpus
    that grows by appends: re-encode ONLY pages whose url is absent from
    a previous run's docs sink, then rebuild the global stages over
    previous ∪ delta per-document outputs.

    Scale rationale: the per-document encoder UDF dominates pipeline
    wall-clock (~80% in BENCH/BASELINE.md's stage decomposition), and a
    web corpus arrives as monthly crawl deltas — re-encoding 10^12
    already-processed pages to absorb a 10^10-page delta is the
    difference between an overnight job and an impossible one. The
    anti-join against the processed-url set is a shuffle on the url key
    (uniform; no skew), and at production scale maps onto an Iceberg
    MERGE/snapshot-diff over the docs table.

    Entity canonicalization is deliberately NOT incremental: canonical
    ids are min-ids over MinHash-LSH + connected-component clusters, and
    one new mention can merge two existing clusters — patching cluster
    ids in place cannot match a from-scratch run. Re-linking reads only
    the (tiny, already-extracted) mention-surface table, never the html.
    tests/test_resume.py asserts the parity contract:
    incremental(half1 -> +half2) == full(all), triple for triple.

    Returns the same dict as run_pipeline; per-doc sinks for THIS run
    hold only the delta ('docs'/'spans'/'relations' are the unions).
    """
    prev = StageIO(spark, prev_workdir, resume=True,
                   table_namespace=cfg.extra.get("table_namespace"))
    for stage in ("docs", "spans", "relations"):
        if not prev.done(stage):
            raise RuntimeError(
                f"incremental run requires completed stage {stage!r} in "
                f"{prev_workdir} (run run_pipeline there first)")
    prev_docs = spark.read.parquet(prev._path("docs"))
    prev_spans = spark.read.parquet(prev._path("spans"))
    prev_rels = spark.read.parquet(prev._path("relations"))

    io = StageIO(spark, workdir, resume,
                 table_namespace=cfg.extra.get("table_namespace"))
    fresh = pages.join(prev_docs.select("url"), "url", "left_anti")
    delta_docs, delta_spans, delta_rels = _extract_stage(
        io, fresh, cfg, verify_extraction)
    # the delta's spans/relations are in their sinks: its docs cache is
    # no longer read (the returned union reads the docs sink)
    delta_docs.unpersist()

    docs = prev_docs.unionByName(delta_docs)
    kept = prev_spans.unionByName(delta_spans).persist()
    rels = prev_rels.unionByName(delta_rels).persist()

    cleanup: list[DataFrame] = []
    entities, triples = link_and_materialize(spark, io, kept, rels, cfg, cleanup)
    for df in cleanup:
        df.unpersist()
    # the delta size is the docs sink's lineage row count (no extra job)
    io.metrics.append({"stage": "_delta", "partition": -1, "rows": sum(
        m["rows"] for m in io.metrics if m["stage"] == "docs")})
    io.write_metrics()
    return {
        "docs": docs,
        "spans": kept,
        "relations": rels,
        "entities": entities,
        "triples": triples,
    }


def write_predictions_json(docs: DataFrame, path: str) -> None:
    """S5 alternate sink: reference-shaped JSON-lines predictions.

    The reference's predict run emits a JSON file of per-document
    predictions with nested span/relation objects (process_preds.py:9
    load_predictions; spans carry {start, end}, relations carry
    {head, tail} span objects). This writes the same PER-OBJECT nesting
    straight from the docs frame — one JSON object per document, spans
    as {start, end, type, text, score}, relations as {head: {...},
    tail: {...}, type, score}. File-level format differs by design:
    this is a distributed JSON-lines directory of part files, while the
    reference's process_preds.load_predictions json.load()s ONE JSON
    document — use :func:`predictions_json_to_reference_file` to
    concatenate the sink into that single-file shape for reference-tool
    consumption. No driver-side serialization on the write path.
    """
    out = docs.select(
        "url",
        F.expr(
            "transform(spans, s -> named_struct("
            "'start', s.start, 'end', s.end, 'type', s.span_type, "
            "'text', s.text, 'score', s.filter_score))"
        ).alias("spans"),
        F.expr(
            "transform(rels, r -> named_struct("
            "'head', named_struct('start', r.h_start, 'end', r.h_end, 'text', r.h_text), "
            "'tail', named_struct('start', r.t_start, 'end', r.t_end, 'text', r.t_text), "
            "'type', r.rel_type, 'score', r.rel_score))"
        ).alias("relations"),
    )
    out.write.mode("overwrite").json(path)


def predictions_json_to_reference_file(sink_dir: str, out_path: str) -> int:
    """Concatenate a write_predictions_json sink directory into the ONE
    JSON-array file the reference's process_preds.load_predictions
    json.load()s (reference process_preds.py:9). Driver-side by design —
    a single reference-shaped file is inherently non-distributed, so
    this is a small post-step for reference-tool interop, not a Spark
    sink. Returns the number of documents written."""
    import glob
    import json as _json

    n = 0
    with open(out_path, "w", encoding="utf-8") as out:
        out.write("[")
        for part in sorted(glob.glob(os.path.join(sink_dir, "part-*"))):
            with open(part, "r", encoding="utf-8") as fh:
                for line in fh:
                    line = line.strip()
                    if not line:
                        continue
                    if n:
                        out.write(",\n")
                    out.write(line)
                    n += 1
        out.write("]")
    return n
