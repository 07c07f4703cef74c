"""Mention detection + relation extraction — the entity-linking core.

Spark-first design (no Python in this path at all):

1. tokenize: ``regexp_extract_all`` keeps words and sentence-final '.'
   as separate tokens, so n-grams and relation gaps never cross a
   sentence boundary (a '.' token can't match any alias or phrase).
2. single ``posexplode`` of tokens (whole-stage codegen) — NOT a
   materialized n-gram table: building every n-gram struct runs through
   Spark's interpreted higher-order-function path (~17 us/struct
   measured) and 4x the rows; probing with single tokens and verifying
   full n-grams only on candidates is ~5x faster end-to-end.
3. alias match = planner-chosen hash join of tokens against the alias
   dictionary keyed by its FIRST token, then an n-gram verification
   filter (``slice`` + ``array_join``) on the candidate rows only —
   the Spark restatement of the reference's batched ``wbgetentities``
   dictionary lookup (/root/reference/src/pheidippides.cpp:29-82): the
   per-50 HTTP chunking becomes Arrow/codegen batching for free.
4. ambiguous aliases resolve by deterministic minimum priority
   (numeric QID part) — replacing the reference's nondeterministic
   hash-order merge (src/pheidippides.cpp:79).  Resolution happens
   dictionary-side (`resolve_alias_dict`): same span ⇒ same alias
   string, so per-alias == per-span resolution, with no mention-side
   shuffle.
5. longest-match dominance: a mention strictly contained in a longer
   one on the same page is dropped (left_anti self-join on url — the
   only shuffle, and it moves *mentions* (~10/page), not token data).
6. relation extraction: each mention carries the next
   MAX_GAP_TOKENS tokens (``after``), so a mention-pair self-join on
   url + a broadcast join of the gap phrase against the predicate
   dictionary emits (subj, pred, obj) — no join back to page text.

At 10^12 pages everything before step 5 is embarrassingly parallel;
steps 5-6 shuffle only the mention relation, co-partitioned on url.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_GAP_TOKENS = 3
TOKEN_PATTERN = r"[a-z0-9]+|\."
# shortest unmatched token the fuzzy-link stage tries to resolve
FUZZY_MIN_LEN = 6


def tokenize(pages: DataFrame, text_col: str = "text") -> DataFrame:
    return pages.withColumn(
        "tokens",
        F.regexp_extract_all(
            F.lower(F.col(text_col)), F.lit(TOKEN_PATTERN), 0
        ),
    )


def resolve_alias_dict(alias_df: DataFrame) -> DataFrame:
    """Pre-resolve ambiguous aliases dictionary-side.

    A span's content determines its alias string, so resolving duplicate
    aliases per *alias* (tiny dimension-side aggregation) is exactly
    equivalent to resolving per *span* — and removes what would
    otherwise be a groupBy shuffle over every matched mention.  The
    winner is the deterministic minimum (priority, qid), replacing the
    reference's nondeterministic hash-order merge
    (src/pheidippides.cpp:79).
    """
    toks = F.split(F.col("alias"), " ", -1)
    return (
        alias_df.groupBy("alias")
        .agg(
            F.min_by(
                F.struct("qid", "priority"), F.struct("priority", "qid")
            ).alias("m")
        )
        .select(
            "alias",
            F.col("m.qid").alias("qid"),
            F.col("m.priority").alias("priority"),
            F.size(toks).alias("n"),
            F.element_at(toks, 1).alias("first_tok"),
        )
    )


def probe_aliases(
    pages: DataFrame,
    alias_df: DataFrame,
    keep: list[str],
) -> DataFrame:
    """Candidate alias matches of batch and stream: one row per token
    position whose n-gram equals a resolved alias: the ``keep`` page
    columns, ``tokens``, ``pos``, ``tok`` and the dictionary row
    (``alias, qid, priority, n, first_tok``).  No dominance.

    Explodes TOKENS (codegen'd), not n-grams: materializing every
    n-gram as a struct costs ~4x the rows and runs through Spark's
    interpreted higher-order-function path (~17 us/struct measured);
    probing the dictionary with single tokens and verifying the full
    n-gram only on candidate rows does the same work on a fraction of
    the data, entirely inside whole-stage codegen.
    """
    resolved = resolve_alias_dict(alias_df)
    toks = tokenize(pages).select(
        *keep, "tokens", F.posexplode("tokens").alias("pos", "tok")
    )
    return toks.join(
        resolved, toks["tok"] == resolved["first_tok"], "inner"
    ).where(
        F.expr("array_join(slice(tokens, pos + 1, n), ' ')")
        == F.col("alias")
    )


def detect_mentions(
    pages: DataFrame,
    alias_df: DataFrame,
    id_col: str = "url",
) -> DataFrame:
    """(url, pos, n, end, qid, alias, priority, after) mention rows.

    `id_col` is the document identity column; it is carried through as
    `url` in the output regardless of its input name.

    The planner picks the dictionary join: a resolved alias dictionary
    under ``autoBroadcastJoinThreshold`` is broadcast (the SURVEY §1.2
    dimension broadcast), a larger one plans as a shuffled equi-join on
    the first token; ``tests/test_plans.py::test_mention_dict_join_regimes``
    pins both regimes.
    """
    if id_col != "url":
        pages = pages.withColumnRenamed(id_col, "url")
    best = probe_aliases(pages, alias_df, ["url"]).select(
        "url",
        "pos",
        "n",
        (F.col("pos") + F.col("n")).alias("end"),
        "qid",
        "alias",
        "priority",
        F.expr(
            f"slice(tokens, pos + 1 + n, {MAX_GAP_TOKENS})"
        ).alias("after"),
    )

    # longest-match dominance: drop mentions strictly inside a longer
    # one.  Only multi-token mentions can dominate (d_n > n >= 1), so
    # the right side keeps n >= 2 rows only — a few percent of
    # mentions — which both shrinks the join input and lets AQE pick a
    # broadcast strategy when the corpus slice allows it.
    longer = best.where(F.col("n") >= 2).select(
        F.col("url").alias("d_url"),
        F.col("pos").alias("d_pos"),
        F.col("end").alias("d_end"),
        F.col("n").alias("d_n"),
    )
    return best.join(
        longer,
        (F.col("url") == F.col("d_url"))
        & (F.col("d_pos") <= F.col("pos"))
        & (F.col("d_end") >= F.col("end"))
        & (F.col("d_n") > F.col("n")),
        "left_anti",
    )


def unmatched_tokens(pages: DataFrame, mentions: DataFrame) -> DataFrame:
    """(url, surface): tokens of length >= FUZZY_MIN_LEN at positions not
    covered by any exact mention span — the long-tail surface forms the
    MinHash-LSH fuzzy-link stage gets to resolve.

    Coverage explodes mention spans (tiny: a few rows per page), so the
    anti-join moves mention-scale data only; the token side stays
    partition-local until the distinct.
    """
    toks = tokenize(pages).select(
        "url", F.posexplode("tokens").alias("pos", "tok")
    )
    covered = mentions.select(
        "url", F.explode(F.expr("sequence(pos, end - 1)")).alias("pos")
    )
    return (
        toks.where(F.length("tok") >= FUZZY_MIN_LEN)
        .join(covered, ["url", "pos"], "left_anti")
        .select("url", F.col("tok").alias("surface"))
        .distinct()
    )


POS_BUCKET = 8  # any value >= MAX_GAP_TOKENS + 1 keeps the span to 2


def extract_relations(
    mentions: DataFrame, predicate_df: DataFrame
) -> DataFrame:
    """(url, subj, pred, obj) from mention pairs with a dictionary gap.

    Adversarial-page bound: joining on url alone is quadratic in the
    per-page mention count — a spam page with 10^4 dictionary hits
    would generate 10^8 candidate pairs inside one join group.  The
    object mention must start within MAX_GAP_TOKENS of the subject's
    end, so both sides carry a position bucket (``pos div
    POS_BUCKET``) as an extra EQUI-join key: the subject explodes to
    the (at most 2) buckets its gap window can touch, and candidate
    fanout per mention drops from O(mentions-per-page) to O(bucket
    occupancy) — linear in page length, independent of mention
    density.  Semantics are unchanged (the bucket key is implied by
    the gap predicate)."""
    win_lo = (F.col("end") + 1) / POS_BUCKET
    win_hi = (F.col("end") + MAX_GAP_TOKENS) / POS_BUCKET
    m1 = mentions.select(
        F.col("url"),
        F.col("end").alias("s_end"),
        F.col("qid").alias("subj"),
        F.col("after").alias("s_after"),
        F.explode(
            F.array_distinct(
                F.array(
                    F.floor(win_lo).cast("int"),
                    F.floor(win_hi).cast("int"),
                )
            )
        ).alias("bkt"),
    )
    m2 = mentions.select(
        F.col("url").alias("o_url"),
        F.col("pos").alias("o_pos"),
        F.col("qid").alias("obj"),
        F.floor(F.col("pos") / POS_BUCKET).cast("int").alias("o_bkt"),
    )
    gap = F.col("o_pos") - F.col("s_end")
    pairs = m1.join(
        m2,
        (F.col("url") == F.col("o_url"))
        & (F.col("bkt") == F.col("o_bkt"))
        & (gap >= 1)
        & (gap <= MAX_GAP_TOKENS),
        "inner",
    ).select(
        "url",
        "subj",
        "obj",
        # greatest(gap, 0): whole-stage codegen can evaluate this
        # projection fused with the join consume before the range
        # condition has filtered a row (observed on Spark 4 ANSI mode —
        # slice() throws on negative length); clamping keeps the
        # expression total, and a clamped row never matches a predicate
        # phrase anyway.
        F.array_join(
            F.slice(F.col("s_after"), F.lit(1), F.greatest(gap, F.lit(0))),
            " ",
        ).alias("phrase"),
    )
    return pairs.join(F.broadcast(predicate_df), "phrase", "inner").select(
        "url", "subj", "pred", "obj"
    )


def mention_triples(mentions: DataFrame) -> DataFrame:
    """(subj=url, pred='mentions', obj=qid), deduplicated."""
    return mentions.select(
        F.col("url").alias("subj"),
        F.lit("mentions").alias("pred"),
        F.col("qid").alias("obj"),
    ).dropDuplicates(["subj", "obj"])


def link_triples(
    mentions: DataFrame,
    predicate_df: DataFrame,
    fuzzy: DataFrame | None = None,
) -> DataFrame:
    """The ``triples_raw`` assembly: exact mention triples ∪ fuzzy
    mention triples (when ``fuzzy`` (url, qid) rows are given) ∪
    dictionary relations, each branch deduplicated."""
    out = mention_triples(mentions)
    if fuzzy is not None:
        out = out.unionByName(mention_triples(fuzzy))
    return out.unionByName(
        extract_relations(mentions, predicate_df)
        .select("subj", "pred", "obj")
        .dropDuplicates()
    )
