"""Word n-gram and character k-gram builders shared by the llm/ keys.

Registers no operator key, so any key module may import it without
moving its own keys in ``registry.QUERIES``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def word_ngrams(toks: F.Column, n: int) -> F.Column:
    """The word n-grams of the token array ``toks``, in order: gram i is
    ``toks[i] || ' ' || … || ' ' || toks[i + n − 1]``. Duplicates are
    kept; callers apply ``array_distinct``, ``md5`` or ``xxhash64``.

    Built as a fold of ``zip_with`` over n aligned slices of the ONE
    array, m = greatest(size(toks) − (n − 1), 0) elements each. The
    indexed form, ``transform(sequence(1, size − n + 1), j -> t[j] …)``,
    is O(words²) per document: codegen does not common-subexpression-
    eliminate an expression across a higher-order-function lambda
    boundary, so every element access re-evaluates the array argument
    (a ``split`` of the text, at every caller) — measured 344 s → 35 s
    at sf10 on ``llm_wimbd_topngrams``'s trigrams.

    Short documents: the clamp makes every slice empty when ``toks`` has
    fewer than n words, so they yield ``[]``, never phantom grams
    (``sequence(1, size − n + 1)`` descends there, and NULL-skipping
    ``concat_ws`` turned the out-of-range elements into grams the
    oracles' empty ``range()`` does not have). A NULL array yields NULL.
    """
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    grams = F.slice(toks, 1, m)
    for i in range(2, n + 1):
        grams = F.zip_with(
            grams, F.slice(toks, i, m), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return grams


def char_kgram_hashes(docs: DataFrame, k: int) -> DataFrame:
    """(doc_id, pos, ghash): one row per k-character window of ``text``,
    ``pos`` its 1-based start and ``ghash`` the xxhash64 of its bytes.
    Only the 8-byte hash leaves the row, never the gram text, so a
    shuffle on it moves ~16 bytes per character position whatever k is.
    ``docs`` must already hold only texts of length ≥ k."""
    return docs.select(
        "doc_id",
        F.explode(F.expr(f"sequence(1, length(text) - {k - 1})")).alias("pos"),
        "text",
    ).select(
        "doc_id",
        "pos",
        F.xxhash64(F.col("text").substr(F.col("pos"), F.lit(k))).alias("ghash"),
    )
