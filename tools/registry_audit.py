"""Registry audit: mechanical near-duplicate detection over 220+ queries.

221 names is past what a human (or a round-boundary grep) reliably keeps
deduplicated — r8 caught 3 semantic duplicates by luck.  This tool emits a
per-query semantic fingerprint and flags suspiciously-similar pairs so each
round's additions get checked mechanically.

Fingerprint per query (static — no SparkSession, no JVM):
- dataset:   tables named in the oracle SQL (or read via ``table(...)``
             calls in the Spark source when there is no oracle);
- operators: package operator/function imports the query body calls
             (``operators.*``, ``functions.*``, ``plans.*``, ``multimodal.*``
             symbols);
- exprs:     the set of ``F.<fn>`` Spark expression functions used;
- grain:     output column aliases — ``.alias("...")`` in Spark source
             (the registry convention aliases every computed column) plus
             ``AS <name>`` aliases in the oracle;
- dochead:   first line of the docstring (human check aid).

Similarity = weighted Jaccard over (dataset, operators, exprs, grain).
Pairs above --threshold (default 0.75) WITH identical dataset are flagged.
Known-intentional families (same dataset + same operator by design:
exact/LSH/IVF/PQ ANN arms, sketch exact/approx twins)
are listed in ALLOWED_FAMILIES; a flagged pair inside one family is
reported as "expected-family" instead of "suspect".

Usage: python tools/registry_audit.py [--threshold=0.75]
Writes artifacts/registry_audit.json; prints a human summary + one JSON
line; exit 1 if any non-family suspect pair is found.
"""

from __future__ import annotations

import inspect
import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# query-name prefixes that form intentional variant families: same data,
# same semantics, different physical strategy (the registry's contract
# arms), or a shared readout contract — pairwise similarity inside these
# is by design
ALLOWED_FAMILIES = [
    ("x01", "exact-dedup vs normalized-text-dedup arms"),
    ("x03", "cosine top-k arms: exact / LSH / IVF / PQ / semantic-dedup"),
    ("x01", "exact-dedup arms: plain / content-addressed bucketed"),
    ("x02", "near-dup arms: ngram / MinHash-LSH / SimHash / components"),
    (
        "xt12",
        "cross-corpus dedup: broadcast arm vs content-addressed "
        "bucketed arm (r12 — same oracle, different storage posture)",
    ),
    ("x09", "count-distinct arms: exact / HLL / CMS / KMV"),
    ("x06", "tumbling vs sliding window"),
    ("x11", "funnel first-touch vs retention"),
    ("xq40", "exact ordered funnel (fixes x11 approximation)"),
    ("tpch_q", "the 22 canonical TPC-H queries — fixed external spec"),
    ("flagship", "DataFrame vs spark.sql twins of the flagship"),
    ("x22", "corpus jaccard exact arm vs KMV arm"),
    ("x29", "KMV overlap arms"),
    ("pipeline_ingest", "e2e ingest arms: ods / binaryFile / ida"),
    ("exact_median", "median/percentile family"),
    ("xq8", "weighted median"),
    ("xio", "I/O round-trip arms: same pipeline, different wire format"),
    ("xmm", "multimodal binary ops share the typed-metadata readout"),
    (
        "xs",
        "storage-layout ops (zorder/WAP/clone/MOR/vacuum/time-travel…) "
        "share the state-readout grain (kind, n_rows, total_price) by "
        "contract; each exercises a DISTINCT layout operation",
    ),
]

# cross-family pairs reviewed by hand (r9 audit): mechanically similar,
# semantically distinct — the reason records WHY each pair stays.  A pair
# that is neither family nor justified exits 1: the regression trap for
# future rounds' additions.
JUSTIFIED_PAIRS: dict[frozenset, str] = {
    frozenset({"tpch_q3_bucketed", "xs17_cbo_join_reorder"}): (
        "intentional: xs17 demonstrates CBO join-REORDERING on the same "
        "3-table star q3 hand-orders — the point is the same result from "
        "a deliberately mis-ordered SQL, via ANALYZE statistics"
    ),
    frozenset({"tpch_q3_shipping_priority", "xs17_cbo_join_reorder"}): (
        "intentional: xs17's mis-ordered SQL is the CBO twin of q3's "
        "hand-ordered plan (docstrings cross-reference)"
    ),
    frozenset({"tpch_q18_large_orders", "xs17_cbo_join_reorder"}): (
        "fingerprint convergence via the shared lineitem/orders star: "
        "q18 is a HAVING-subquery top-20 (order-grain quantity sums); "
        "xs17 is the CBO reorder demonstrator (priority-grain revenue) — "
        "different aggregates, different outputs"
    ),
    frozenset({"tpch_q18_bucketed", "xs17_cbo_join_reorder"}): (
        "same as the q18-plain pair: the bucketed arm inherits q18's "
        "fingerprint (identical semantics by design, same oracle)"
    ),
    frozenset({"agg_variance_corr_exact", "tpch_q6_forecast_revenue"}): (
        "fingerprints converged when both adopted the shared cents() "
        "helper (r10): exact variance/correlation moments vs the q6 "
        "discount-band revenue sum — different aggregates, different "
        "predicates, same lineitem money columns"
    ),
    frozenset({"cube_quantity", "grouping_sets_explicit"}): (
        "CUBE (4 grouping sets incl. grand total) vs explicit GROUPING "
        "SETS ((flag),(status)) — different output sets, distinct API "
        "surface over the same flat pre-aggregate"
    ),
    frozenset({"x33_stratified_sample", "x34_class_rebalance"}): (
        "same grouped hash-rank primitive, different sampling semantics: "
        "fixed 10% per stratum vs downsample-to-minority-class; "
        "independent CW seeds"
    ),
    frozenset({"x35_golden_record_merge", "xt25_canonical_survivorship"}): (
        "per-FIELD survivorship rules (MDM merge) vs whole-ROW canonical "
        "keep — docstrings cross-reference the distinction"
    ),
    frozenset({"op11_filter_blank_rows", "op41_global_sort_limit"}): (
        "sparse fingerprints (empty shared grain): blank-row filter vs "
        "global sort+limit — nothing shared but the table"
    ),
    frozenset({"pipeline_prepare_documents", "x04b_lang_id"}): (
        "the e2e prep pipeline embeds lang-id as ONE of its stages; "
        "outputs and grains differ"
    ),
    frozenset({"x17b_rolling_active_users", "xq22_dau_mau_stickiness"}): (
        "rolling 7-day distinct-user window vs DAU/MAU stickiness ratio "
        "— different windows, different outputs"
    ),
    frozenset({"op17_pivot_groups", "skew_salted_revenue"}): (
        "pivot readout vs salted-aggregation demo; only the dimension "
        "columns overlap"
    ),
    frozenset({"x04d_token_count_bpe", "xmm_binary_byte_features"}): (
        "BPE-ish token counting on text vs byte-histogram features on "
        "binary — sparse integer grains collide"
    ),
    frozenset({"x04d_token_count_bpe", "xmm_frame_sample"}): (
        "token counting vs video frame sampling — sparse integer grains"
    ),
    frozenset({"x04_text_stats", "xmm_decode_bmp"}): (
        "text statistics vs BMP decode — sparse numeric grains collide"
    ),
    frozenset({"op40_lag_mom_delta", "window_moving_avg"}): (
        "LAG month-over-month delta vs moving average — different window "
        "functions over the same monthly-revenue grain"
    ),
    frozenset({"x02b_minhash_lsh_pairs", "x31_ppjoin_pairs"}): (
        "intentional contract arm: PPJoin guarantees recall 1 where "
        "MinHash-LSH is probabilistic — x31 docstring states the shared "
        "output contract"
    ),
    frozenset({"xmm_frame_sample", "xt14_ngram_vocab_estimate"}): (
        "frame sampling vs vocabulary growth estimate — sparse bigint "
        "grains collide"
    ),
}


def _family(name: str) -> str | None:
    for pre, _ in ALLOWED_FAMILIES:
        if name.startswith(pre):
            return pre
    return None


def fingerprint(name: str, fn, oracle: str | None) -> dict:
    try:
        src = inspect.getsource(fn)
    except (OSError, TypeError):
        src = ""
    body = re.sub(r'""".*?"""', "", src, flags=re.S)  # drop docstring
    doc = (inspect.getdoc(fn) or "").split("\n", 1)[0]

    tables: set[str] = set()
    sql = oracle or ""
    for t in TABLES:
        if re.search(rf"\b{t}\b", sql) or re.search(
            rf"""table\(\s*spark,\s*sf_dir,\s*['"]{t}['"]""", body
        ):
            tables.add(t)

    exprs = sorted(set(re.findall(r"\bF\.(\w+)", body)))
    ops = sorted(
        set(
            re.findall(
                r"from \.\.(?:operators|functions|plans|multimodal)"
                r"\.\w+ import ([\w, ]+)",
                body,
            )
        )
    )
    ops = sorted({s.strip() for grp in ops for s in grp.split(",") if s.strip()})
    called = sorted(
        {o for o in ops if re.search(rf"\b{re.escape(o)}\s*\(", body)}
    ) or ops

    aliases = set(re.findall(r"\.alias\(\s*['\"](\w+)['\"]", body))
    aliases |= {
        a.lower() for a in re.findall(r"\bAS\s+(\w+)", sql, flags=re.I)
    }
    grain = sorted(aliases)

    return {
        "dataset": sorted(tables),
        "operators": called,
        "exprs": exprs,
        "grain": grain,
        "doc": doc,
        "module": getattr(fn, "__module__", ""),
    }


def _jacc(a: list, b: list) -> float:
    sa, sb = set(a), set(b)
    if not sa and not sb:
        return 1.0
    return len(sa & sb) / max(1, len(sa | sb))


def similarity(fa: dict, fb: dict) -> float:
    return round(
        0.25 * _jacc(fa["dataset"], fb["dataset"])
        + 0.25 * _jacc(fa["operators"], fb["operators"])
        + 0.2 * _jacc(fa["exprs"], fb["exprs"])
        + 0.3 * _jacc(fa["grain"], fb["grain"]),
        3,
    )


def main() -> None:
    threshold = 0.75
    for a in sys.argv[1:]:
        if a.startswith("--threshold"):
            threshold = float(a.split("=", 1)[1])

    from ida_dataengineerproject_spark.registry import ORACLES, ORIGINALS

    fps = {
        n: fingerprint(n, fn, ORACLES.get(n)) for n, fn in ORIGINALS.items()
    }

    names = sorted(fps)
    suspects, family_pairs, justified = [], [], []
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            fa, fb = fps[a], fps[b]
            if fa["dataset"] != fb["dataset"]:
                continue
            s = similarity(fa, fb)
            if s < threshold:
                continue
            pair = {
                "a": a, "b": b, "similarity": s,
                "shared_grain": sorted(
                    set(fa["grain"]) & set(fb["grain"])
                ),
            }
            famA, famB = _family(a), _family(b)
            if famA is not None and famA == famB:
                pair["family"] = famA
                family_pairs.append(pair)
            elif frozenset({a, b}) in JUSTIFIED_PAIRS:
                pair["reason"] = JUSTIFIED_PAIRS[frozenset({a, b})]
                justified.append(pair)
            else:
                suspects.append(pair)

    suspects.sort(key=lambda p: -p["similarity"])
    family_pairs.sort(key=lambda p: -p["similarity"])
    justified.sort(key=lambda p: -p["similarity"])

    report = {
        "metric": "registry_audit",
        "n_queries": len(names),
        "threshold": threshold,
        "n_suspect_pairs": len(suspects),
        "n_justified_pairs": len(justified),
        "n_expected_family_pairs": len(family_pairs),
        "suspect_pairs": suspects,
        "justified_pairs": justified,
        "expected_family_pairs": family_pairs,
        "fingerprints": fps,
    }
    out = os.path.join(REPO, "artifacts", "registry_audit.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        json.dump(report, fh, indent=1)

    for p in suspects:
        print(
            f"SUSPECT   {p['similarity']:.2f}  {p['a']}  ~  {p['b']}  "
            f"shared grain: {','.join(p['shared_grain'][:8])}",
            file=sys.stderr,
        )
    for p in justified:
        print(
            f"justified {p['similarity']:.2f}  {p['a']}  ~  {p['b']}",
            file=sys.stderr,
        )
    for p in family_pairs:
        print(
            f"family    {p['similarity']:.2f}  {p['a']}  ~  {p['b']}  "
            f"[{p['family']}]",
            file=sys.stderr,
        )
    print(
        json.dumps(
            {k: report[k] for k in (
                "metric", "n_queries", "threshold",
                "n_suspect_pairs", "n_justified_pairs",
                "n_expected_family_pairs",
            )}
            | {"suspect_pairs": [
                (p["a"], p["b"], p["similarity"]) for p in suspects
            ]}
        )
    )
    sys.exit(1 if suspects else 0)


if __name__ == "__main__":
    main()
