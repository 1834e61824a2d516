"""User-defined function surface: the three UDF families Spark offers
beyond scalar built-ins, each demonstrated with an LLM-pipeline-relevant
operator (SURVEY.md §2.2: the reference exposes NO user-facing UDF
surface — its only extension point is an in-process Go callback).

- scalar pandas UDF: operators/merge_patch.merge_patch_json (Arrow
  batches over merge_patch_text, RFC-7386 over nested JSON). No daemon
  plan calls it: the wire renderer patches each UPDATE row on the
  driver with merge_patch_text itself.
- UDTF (table function): sentence split — one doc row → N sentence rows
- grouped-agg pandas UDF (UDAF): weighted_mean — custom aggregate over
  Arrow columns

All Arrow-batched; none belong in a hot path a built-in can express —
they exist for the semantics built-ins can't (true table functions,
custom aggregates over vectors). Construction is lazy: the decorators
parse DDL return types and need an active SparkSession, so they cannot
run at import time.
"""

# NOTE: no `from __future__ import annotations` here — pandas_udf
# resolves the signature from live type hints, and PEP-563 stringified
# hints inside the lazy factory fail its parser.
from functools import lru_cache


class _SentenceSplit:
    """Table function: split text into sentences on ./!/? boundaries.
    One input row → N output rows (the chunking primitive a tokenizer
    shard consumes). Empty/NULL text yields zero rows, not a failure."""

    def eval(self, text: str):  # noqa: D102 - UDTF contract
        if not text:
            return
        import re

        idx = 0
        for raw in re.split(r"(?<=[.!?])\s+", text.strip()):
            s = raw.strip()
            if s:
                yield idx, s, len(s)
                idx += 1


@lru_cache(maxsize=1)
def sentence_split_udtf():
    from pyspark.sql.functions import udtf

    return udtf(_SentenceSplit, returnType="sent_idx int, sentence string, n_chars int")


@lru_cache(maxsize=1)
def weighted_mean_udaf():
    """Grouped-agg pandas UDF (UDAF): Σ(v·w)/Σ(w) per group, NULL-safe.
    Used as  df.groupBy(k).agg(weighted_mean_udaf()('value', 'weight'))."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def weighted_mean(v: pd.Series, w: pd.Series) -> float:
        mask = v.notna() & w.notna()
        tw = w[mask].sum()
        if tw == 0:
            return None
        return float((v[mask] * w[mask]).sum() / tw)

    return weighted_mean


def split_sentences(df, id_col: str = "doc_id", text_col: str = "text"):
    """Apply the UDTF laterally: each doc row fans out to its
    sentences, keeping the id column."""
    df.sparkSession.udtf.register("pq_sentence_split", sentence_split_udtf())
    df.createOrReplaceTempView("_pq_udtf_in")
    return df.sparkSession.sql(
        f"SELECT t.{id_col}, s.sent_idx, s.sentence, s.n_chars "
        f"FROM _pq_udtf_in t, LATERAL pq_sentence_split(t.{text_col}) s"
    )
