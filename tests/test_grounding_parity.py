"""Span grounding inside the fused extraction stage must equal the staged
route it replaced: per-window candidates -> top1_window -> best_to_triples
-> left join of the window texts on (conv_id, window_id) -> one
fuzzy.ground_answer call per triple.  The staged route is rebuilt here
from the surviving operators as the reference."""
from __future__ import annotations

from collections import Counter

from information_extraction_t5_spark.core import fuzzy
from information_extraction_t5_spark.data import synth
from information_extraction_t5_spark.operators.extraction import (
    run_extraction_from_documents,
)
from information_extraction_t5_spark.operators.postprocess import (
    SPAN_SCHEMA,
    best_to_triples,
    top1_window,
)
from information_extraction_t5_spark.operators.windows import (
    assemble_documents,
    sliding_windows_exact,
)
from information_extraction_t5_spark.pipeline import (
    PipelineConfig,
    extract_triples,
)

N = 40
SPAN_COLS = [c.split()[0] for c in SPAN_SCHEMA.split(",")]


def _staged_spans(spark, transcripts, cfg):
    docs = assemble_documents(transcripts)
    best = top1_window(
        run_extraction_from_documents(docs, cfg.window)
        .select("conv_id", "qa_id", "window_id", "prediction", "prob"),
        use_fewer_na=True,
    )
    wtexts = sliding_windows_exact(docs, cfg.window).select(
        "conv_id", "window_id", "window_text"
    )
    joined = best_to_triples(best).join(
        wtexts, ["conv_id", "window_id"], "left"
    )
    rows = []
    for r in joined.collect():
        start = end = grounded = None
        if r["sent_id"] is not None and r["sent_id"] >= 1 \
                and r["window_text"]:
            start, end, grounded = fuzzy.ground_answer(
                r["obj_raw"] or r["obj"], int(r["sent_id"]),
                r["window_text"], sentence_expansion=1,
            )
        d = r.asDict()
        d.update(span_start=start, span_end=end, grounded=grounded)
        rows.append(tuple(d[c] for c in SPAN_COLS))
    return rows


def test_fused_grounding_matches_staged_route(spark):
    cfg = PipelineConfig(ground=True)
    transcripts = synth.transcripts_df(spark, N)
    fused_df = extract_triples(spark, transcripts, cfg)
    assert fused_df.columns == SPAN_COLS

    fused = Counter(tuple(r) for r in fused_df.collect())
    staged = Counter(_staged_spans(spark, transcripts, cfg))
    assert fused == staged and fused
    start = SPAN_COLS.index("span_start")
    grounded = sum(n for r, n in fused.items() if r[start] is not None)
    # the check must compare real spans, not only NULLs
    assert grounded > sum(fused.values()) // 2
