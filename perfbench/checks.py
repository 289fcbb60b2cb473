"""Output checks, run untimed after every pass (``check_pass``) and once per
run against the slow pure-Python oracle (``check_oracle``).  They read the
written parquet with pyarrow, a reader independent of Spark."""

from __future__ import annotations

import numpy as np
import pyarrow.dataset as ds

from dp_data_quality_spark.config import FilterConfig
from dp_data_quality_spark.pipeline import PipelineResult
from tests.oracle_util import decide_oracle, f1

from . import inputs

ORACLE_CONVS = 8
MIN_F1 = 0.99


def check_pass(
    res: PipelineResult, scored_path: str, table: inputs.Table, skipped: int = 0,
) -> tuple[list[str], list[int]]:
    """Return (failures, rows_in of each bucket).  ``skipped`` buckets were
    completed before the pass.  Reads the output with pyarrow, not Spark."""
    turns = table.turns
    failures = []
    scored = ds.dataset(scored_path, format="parquet", partitioning="hive")
    kept = scored.count_rows(filter=ds.field("keep") == 1)
    dropped = scored.count_rows(filter=ds.field("keep") == 0)
    if kept + dropped != turns:
        failures.append(f"kept {kept} + dropped {dropped} != {turns} input turns")

    metrics = ds.dataset(res.metrics_path, format="parquet").to_table().to_pylist()
    completed = [m for m in metrics if m["status"] == "completed"]
    keys = [int(m["partition_key"]) for m in completed]
    if len(set(keys)) != len(keys) or len(keys) != table.buckets:
        failures.append(f"completed metrics rows for buckets {sorted(keys)},"
                        f" {table.buckets} buckets hold input")
    if sum(m["rows_in"] for m in completed) != turns:
        failures.append(f"sum(rows_in) {sum(m['rows_in'] for m in completed)} != {turns}")
    if sum(m["rows_kept"] for m in completed) != kept:
        failures.append("sum(rows_kept) differs from the kept rows written")
    if (res.buckets_processed, res.buckets_skipped) != (table.buckets - skipped, skipped):
        failures.append(f"processed {res.buckets_processed}, skipped {res.buckets_skipped}"
                        f" of {table.buckets} buckets")
    return failures, [m["rows_in"] for m in completed]


def _sample(path: str, ids: list[str], columns: list[str]):
    data = ds.dataset(path, format="parquet", partitioning="hive")
    return data.to_table(columns=columns, filter=ds.field("conv_id").isin(ids)).to_pandas()


def check_oracle(in_path: str, scored_path: str, seed: int) -> dict:
    """Keep/drop and scrubbed text of a seeded sample of conversations
    against ``tests.oracle_util.decide_oracle``."""
    convs = ds.dataset(in_path, format="parquet").to_table(columns=["conv_id"]).column(0)
    # conversations 0 and 1 are the chat mega-threads; sample the ordinary ones
    ordinary = sorted(set(convs.to_pylist()) - {"conv_00000000", "conv_00000001"})
    rng = np.random.default_rng(seed)
    ids = [ordinary[i] for i in rng.choice(len(ordinary), ORACLE_CONVS, replace=False)]
    inp = _sample(in_path, ids, ["conv_id", "turn_idx", "text"])
    out = _sample(scored_path, ids, ["conv_id", "turn_idx", "keep", "scrubbed_text"])
    failures = []
    if len(out) != len(inp) or out.duplicated(["conv_id", "turn_idx"]).any():
        failures.append(f"{len(inp)} sampled input turns, {len(out)} output rows")
    merged = inp.merge(out, on=["conv_id", "turn_idx"], how="inner")

    cfg = FilterConfig()
    tp = fp = fn = text_mismatch = 0
    for text, keep, scrubbed in zip(merged.text, merged.keep, merged.scrubbed_text):
        text = None if text is None else str(text)
        want_keep, _, want_text = decide_oracle(text, cfg)
        got_keep = bool(keep)
        tp += want_keep and got_keep
        fp += got_keep and not want_keep
        fn += want_keep and not got_keep
        if want_keep and got_keep and want_text != scrubbed:
            text_mismatch += 1
    score = f1(tp, fp, fn)
    if score < MIN_F1:
        failures.append(f"keep/drop F1 {score:.4f} < {MIN_F1}")
    if text_mismatch:
        failures.append(f"{text_mismatch} scrubbed texts differ from the oracle")
    return {"rows": len(merged), "f1": score, "text_mismatches": text_mismatch,
            "failures": failures}
