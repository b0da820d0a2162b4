"""Arrow-batched UDF stages wrapping the frozen model math.

These are the ONLY Python-executed stages in the pipeline (input_hint:
vectorized pandas/Arrow UDFs, no per-row Python in the relational plan).

The main pipeline uses ONE fused stage per document —
``make_doc_extract_udf`` — which runs the reference's whole pruning
cascade in a single Arrow crossing: extract -> tokenize -> encode ->
tagger decode -> span filter -> top-k -> NMS -> pair gen -> rel score ->
rel top-k -> threshold (reference forward pass model.py:728-1134; the
cascade order is model.py:788-885). Rationale: every one of those ops is
per-document and bounded by k = max_top_k_spans, so shuffling the
10-100x larger candidate sets between stages would be pure overhead at
100 TB — the unit of distribution is the document. Cross-document
operators (linking, dedup, triple aggregation) remain DataFrame algebra.

The staged UDFs (extract_verify_udf, make_score_spans_udf) feed the
operator-registry query q_pipeline_spans, which exercises the relational
top-k / NMS operators in operators/ on scored candidate spans.

In production the frozen NumPy model is swapped for a broadcast torch
model loaded once per Python worker (import-gated); interfaces unchanged.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from causalre_spark.config import DEFAULT_CONFIG, PipelineConfig
from causalre_spark.extract import extract_text, tokenize
from causalre_spark.model import batch

try:  # pragma: no cover - production path, torch not in sandbox
    import torch  # noqa: F401

    HAS_TORCH = True
except Exception:  # pragma: no cover
    HAS_TORCH = False

DOCS_SCHEMA = "url string, text string, tokens array<string>, n_tokens int"
SPANS_SCHEMA = (
    "url string, start int, end int, tag_score float, filter_score float"
)
DOC_EXTRACT_SCHEMA = (
    "url string, n_tokens int, text_ok boolean, "
    "spans array<struct<start:int, end:int, tag_score:float, "
    "filter_score:float, span_type:string, text:string>>, "
    "rels array<struct<h_start:int, h_end:int, t_start:int, t_end:int, "
    "rel_score:float, rel_type:string, h_text:string, t_text:string>>"
)


def make_doc_extract_udf(cfg: PipelineConfig = DEFAULT_CONFIG):
    """pages(url, html, expected_text) -> one row per doc with kept spans
    + thresholded relations as array columns (exploded relationally by
    the caller). text is re-extracted from html; text_ok carries the
    byte-identical invariant."""

    # fused pre-encode curation gate (cfg.extra['curation_gate']): the
    # cheap row-local quality/repetition decision runs INSIDE the Arrow
    # crossing, before the encoder — the same fusion rationale as the
    # reference's in-model pruning cascade (see pipeline.py run_pipeline
    # for why a relational pre-filter is NOT the right shape here). The
    # python twin is value-identical to the relational gate column.
    gate = None
    if cfg.extra.get("curation_gate"):
        from causalre_spark.functions.text import curation_keep as gate

    def udf(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("url", "n_tokens", "text_ok", "spans", "rels")}
            for url, html, expected in zip(
                pdf["url"], pdf["html"], pdf["expected_text"]
            ):
                text = extract_text(bytes(html))
                if gate is not None and not gate(text):
                    continue
                toks = tokenize(text)
                r = batch.doc_extract(toks, cfg)
                span_rows = [
                    (int(s), int(e), float(ts), float(fs), str(ty),
                     " ".join(toks[int(s): int(e)]))
                    for s, e, ts, fs, ty in zip(
                        r["starts"], r["ends"], r["tag_scores"],
                        r["filter_scores"], r["span_types"])
                ]
                rel_rows = [
                    (int(r["starts"][h]), int(r["ends"][h]),
                     int(r["starts"][t]), int(r["ends"][t]), float(sc), str(ty),
                     span_rows[h][5], span_rows[t][5])
                    for h, t, sc, ty in zip(
                        r["rel_h"], r["rel_t"], r["rel_scores"], r["rel_types"])
                ]
                out["url"].append(url)
                out["n_tokens"].append(len(toks))
                out["text_ok"].append(text == expected)
                out["spans"].append(span_rows)
                out["rels"].append(rel_rows)
            yield pd.DataFrame(out)

    return udf


def extract_verify_udf(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """pages(url, html, expected_text) -> docs(url, text, tokens, n_tokens)
    + text_ok flag (staged variant used by the operator-registry
    queries)."""
    for pdf in batches:
        texts = [extract_text(bytes(h)) for h in pdf["html"]]
        toks = [tokenize(t) for t in texts]
        yield pd.DataFrame(
            {
                "url": pdf["url"].values,
                "text": texts,
                "tokens": toks,
                "n_tokens": [len(t) for t in toks],
                "text_ok": [a == b for a, b in zip(texts, pdf["expected_text"])],
            }
        )


def make_score_spans_udf(cfg: PipelineConfig = DEFAULT_CONFIG):
    """docs -> ALL candidate spans with tagger + filter scores (staged
    variant; the relational top-k/NMS operators consume this). The
    O(L*W) lattice is never materialized — only B/E-decoded candidates
    (SURVEY §2.2 P4 note)."""

    def udf(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {k: [] for k in
                                     ("url", "start", "end", "tag_score", "filter_score")}
            for url, tokens in zip(pdf["url"], pdf["tokens"]):
                tokens = list(tokens)
                enc = batch.DocEncoding(tokens, cfg)
                b, e = batch.tagger_logits_batch(enc)
                starts, ends, tag_scores = batch.decode_spans_batch(b, e, cfg)
                fscores = batch.span_filter_scores_batch(enc, starts, ends)
                n = starts.shape[0]
                rows["url"].extend([url] * n)
                rows["start"].extend(starts.tolist())
                rows["end"].extend(ends.tolist())
                rows["tag_score"].extend(tag_scores.tolist())
                rows["filter_score"].extend(fscores.tolist())
            yield pd.DataFrame(rows)

    return udf
