"""End-to-end training-data preparation pipeline (driver north star: the
operators of SURVEY.md §2.11 composed the way a 100 TB corpus job uses
them).

Stages (materialized in stages since r12 — no longer one lazy plan):
1. quality gate      — length/diversity/stopword composite ≥ threshold
2. language filter   — stopword-voting lang-id ∈ keep-set
3. exact dedup       — md5(normalized text), lowest doc_id wins
4. near-dup removal  — MinHash-LSH pairs; drop the higher doc_id of each
                       verified pair (transitive enough at pair level)
5. stats projection  — token counts + fingerprint for the surviving docs

Scale notes: stages 1-2 are pure maps (pushdown-friendly), stage 3
shuffles once on the hash, stage 4 is the banded candidate join (no n²),
and the near-dup drop set is usually tiny → broadcast anti-join.

Laziness caveat (ADVICE r12): calling ``prepare_documents`` (and the
minhash/simhash operators it uses) runs Spark jobs AT CONSTRUCTION TIME
— the deduped frame goes through ``session.materialize`` because two
consumers would otherwise re-run the scan + regex gates + dedup window.
That helper's docstring holds what this costs: no filter pushdown past
stage 3, and blocks that do not survive executor loss.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import text_fingerprint
from ..functions.textstats import lang_id, n_tokens, quality_score, token_count_bpe_ish
from ..operators.dedup import exact_dedup, minhash_lsh_pairs
from ..session import materialize
from ..sources.tables import table


def prepare_documents(
    spark: SparkSession,
    sf_dir: str,
    min_quality: float = 0.4,
    keep_langs: tuple[str, ...] = ("en", "und"),
    neardup_threshold: float = 0.5,
) -> DataFrame:
    docs = table(spark, sf_dir, "documents")

    gated = (
        docs.withColumn("quality", quality_score("text"))
        .withColumn("lang_pred", lang_id("text"))
        .filter(
            (F.col("quality") >= min_quality)
            & F.col("lang_pred").isin(*keep_langs)
        )
    )

    deduped = exact_dedup(gated, text_fingerprint("text"), "doc_id")
    # TWO consumers re-run the scan + regex gates + dedup window otherwise
    # (the near-dup pair build and the survivors anti-join side) — the
    # quality/lang regexes are the corpus-scale cost, so recomputing them
    # is worse than one materialization.  r12: neutral at sf0.1
    # (2.60 vs 2.64 s), 11.62 → 9.94 s at the x10 replica, rows identical.
    deduped = materialize(deduped)

    pairs = minhash_lsh_pairs(
        deduped, "doc_id", "text", threshold=neardup_threshold
    )
    to_drop = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    survivors = deduped.join(F.broadcast(to_drop), "doc_id", "left_anti")

    return survivors.select(
        "doc_id",
        "lang",
        "lang_pred",
        "quality",
        n_tokens("text").alias("n_tok"),
        token_count_bpe_ish("text").alias("n_bpe_ish"),
        F.col("hash_registro").alias("fingerprint"),
        "n_dups",
    )
