"""Record-linkage operators: blocked fuzzy joins on string keys.

Entity resolution at corpus scale can never score all |L|x|R| pairs; the
standard shape is candidates-by-blocking -> exact-verify, the same
propose/dispose pattern as the dedup pipelines (operators/dedup.py).
Here blocking is a padded character-q-gram equality join and the verify
is bounded Levenshtein — both engine-portable, so the whole pipeline is
DuckDB-oracle-checkable (queries.fuzzy_part_names asserts the blocked
output equals the exact all-pairs answer).

Recall guarantee of q-gram blocking: one edit destroys at most ``q``
q-grams; a string of length n padded with q-1 sentinels on both ends has
n+q-1 grams, so two strings within edit distance d share at least
n+q-1-d*q grams. With q=3, d=2: any pair of names of length >= 5 shares
at least one gram — complete for real-world name linkage; shorter keys
need q=2 (documented, parameterized).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def char_ngrams(col: Column) -> Column:
    """Padded character 3-grams of a (lowercased) string as an array.

    Padding with two ``#`` sentinels preserves boundary information (an
    edit at position 0 still leaves interior grams shared) and
    guarantees >= 3 grams even for short strings.
    """
    padded = F.concat(F.lit("##"), F.lower(col), F.lit("##"))
    return F.transform(
        F.sequence(F.lit(1), F.length(padded) - 2),
        lambda i: F.substring(padded, i, 3),
    )


def fuzzy_join_blocked(
    left: DataFrame,
    right: DataFrame,
    *,
    left_col: str,
    right_col: str,
    max_gram_freq: int | None = None,
) -> DataFrame:
    """Candidate pairs of string keys within Levenshtein distance 2:
    (name_a, name_b, edit_dist), via 3-gram blocking + bounded verify.

    Scale design:

    - Each side is reduced to its DISTINCT key values first — in
      linkage the key vocabulary ≪ row count, so the expensive pair
      work never multiplies by row duplication; callers re-join the
      result to their fact rows by key.
    - The block join is an equality join on (gram): only pairs sharing
      a gram ever materialize — never |L|x|R|.
    - Verify uses Spark's bounded ``levenshtein(a, b, threshold)``:
      O(d*min(m,n)) per pair instead of O(m*n), returning -1 past the
      bound (filtered). Kept rows carry the true distance, so the
      output is oracle-comparable against an exact all-pairs join.
    - ``max_gram_freq`` drops grams appearing in more than that many
      keys before the join (stopword-gram posting lists expand
      quadratically). None keeps the completeness guarantee exact.
    """
    ln = left.select(F.col(left_col).alias("name_a")).distinct()
    rn = right.select(F.col(right_col).alias("name_b")).distinct()
    la = ln.select(
        "name_a", F.explode(F.array_distinct(char_ngrams(F.col("name_a")))).alias("g")
    )
    rb = rn.select(
        "name_b", F.explode(F.array_distinct(char_ngrams(F.col("name_b")))).alias("g")
    )
    if max_gram_freq is not None:
        keep = (
            la.groupBy("g").agg(F.count(F.lit(1)).alias("__f"))
            .filter(F.col("__f") <= max_gram_freq)
            .select("g")
        )
        la = la.join(keep, "g", "left_semi")
    cand = la.join(rb, "g").select("name_a", "name_b").distinct()
    return (
        cand.withColumn("edit_dist", F.levenshtein("name_a", "name_b", 2))
        .filter((F.col("edit_dist") >= 0) & (F.col("edit_dist") <= 2))
    )
