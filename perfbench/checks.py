"""Output checks, one function per workload.

Each checker takes what the program wrote or reported, loaded into pandas
by the workload (``pyarrow`` reads the written files directly, so the
checks share no code path with the engine), and returns a list of failure
messages; an empty list means the output is correct. The benchmark counts
a non-empty list as one failed operation.
"""

from __future__ import annotations

import pandas as pd


def check_batch(
    routed: pd.DataFrame,
    counts: dict,
    n_input: int,
    n_invalid: int,
    late_keys: pd.DataFrame,
    size_k: int,
) -> "list[str]":
    """`routed` is the committed routed table read back from disk
    (conv_id, turn_idx, window_start_s, sink, reason), `counts` the per-sink
    counts `write_sinks` returned, `late_keys` the (conv_id, turn_idx) of
    every turn the generator tagged late."""
    fails = []
    if len(routed) != n_input:
        fails.append(f"conservation: sampled+overflow+dlq={len(routed)} != input {n_input}")
    reported = sum(v for k, v in counts.items() if k != "metrics")
    if reported != n_input:
        fails.append(f"conservation: reported sink counts {reported} != input {n_input}")

    sink, reason = routed["sink"], routed["reason"]
    invalid = routed["conv_id"].isna() | routed["turn_idx"].isna()
    flagged = int((invalid | (reason == "invalid_key")).sum())
    ok = int((invalid & (sink == "dlq") & (reason == "invalid_key")).sum())
    if flagged != n_invalid or ok != n_invalid:
        fails.append(
            f"invalid keys: {ok} of {n_invalid} invalid rows in dlq(invalid_key), "
            f"{flagged} rows flagged"
        )

    valid = routed[~invalid].astype({"turn_idx": "int64"})
    tagged = valid.merge(
        late_keys.astype({"turn_idx": "int64"}), on=["conv_id", "turn_idx"]
    )
    ok = int(((tagged["sink"] == "dlq") & (tagged["reason"] == "late")).sum())
    n_late_out = int((reason == "late").sum())
    if ok != len(late_keys) or n_late_out != len(late_keys):
        fails.append(
            f"late: {ok} of {len(late_keys)} tagged late turns in dlq(late), "
            f"{n_late_out} rows routed late"
        )

    units = (
        valid.assign(
            sampled=valid["sink"] == "sampled_traces",
            unsampled=valid["reason"] == "unsampled",
        )
        .groupby(["window_start_s", "conv_id"])
        .agg(n_sinks=("sink", "nunique"), sampled=("sampled", "any"),
             unsampled=("unsampled", "any"))
    )
    split = int((units["n_sinks"] > 1).sum())
    if split:
        fails.append(f"split: {split} (window, conversation) units span sinks")
    per_window = units.assign(kept=units["sampled"] | units["unsampled"]).groupby(
        level="window_start_s"
    )[["sampled", "kept"]].sum()
    bad = int((per_window["sampled"] != per_window["kept"].clip(upper=size_k)).sum())
    if bad:
        fails.append(f"reservoir: {bad} windows sample != min(k, kept on-time convs)")
    return fails


def check_stream(rows_in: int, rows_out: int, n_input: int, rolls: int) -> "list[str]":
    fails = []
    if rows_in != n_input or rows_out != rows_in:
        fails.append(
            f"conservation: epoch rows_in={rows_in}, routed={rows_out}, input={n_input}"
        )
    if rolls <= 0:
        fails.append("no mid-stream roll exported a bucket")
    return fails


def check_stream_vs_batch(stream_sampled: "set[tuple]", batch_sampled: "set[tuple]") -> "list[str]":
    """Both sets hold the (window_start_s, conv_id) of sampled rows."""
    only_stream = len(stream_sampled - batch_sampled)
    only_batch = len(batch_sampled - stream_sampled)
    if only_stream or only_batch:
        return [
            f"stream/batch sampled sets differ: {only_stream} only in stream, "
            f"{only_batch} only in batch"
        ]
    return []


def check_dedup(
    docs: pd.DataFrame,
    survivors: pd.Series,
    verified: pd.DataFrame,
    n_planted_dups: int,
    threshold: float,
) -> "list[str]":
    """`docs` is the generated corpus (doc_id, cluster_id; -1 outside any
    planted cluster), `survivors` the doc_ids of the written deduplicated
    corpus, `verified` the Jaccard-verified pairs (doc_a, doc_b, jaccard)
    the chain produced."""
    fails = []
    ids = set(docs["doc_id"])
    surv = set(survivors)
    removed = ids - surv
    unknown = len(surv - ids)
    if len(survivors) != len(surv) or unknown or len(surv) + len(removed) != len(docs):
        fails.append(
            f"conservation: survivors {len(survivors)} ({len(surv)} distinct, "
            f"{unknown} unknown) + removed {len(removed)} != input {len(docs)}"
        )
    if len(removed) != n_planted_dups:
        fails.append(f"removed {len(removed)} documents, planted {n_planted_dups} duplicates")
    planted = docs[docs["cluster_id"] >= 0]
    per_cluster = planted["doc_id"].isin(surv).groupby(planted["cluster_id"]).sum()
    bad = int((per_cluster != 1).sum())
    if bad:
        fails.append(f"clusters: {bad} planted clusters do not collapse to one survivor")
    ok = verified[verified["jaccard"] >= threshold]
    members = set(ok["doc_a"]) | set(ok["doc_b"])
    unverified = len(removed - members)
    if unverified:
        fails.append(f"{unverified} removed documents have no verified pair >= {threshold}")
    return fails
