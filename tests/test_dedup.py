"""Medium-scale correctness of the end-to-end MinHash doc dedup: 20k
synthetic docs with constructed clusters (exact duplicates, one
near-duplicate member per cluster, uniques) checked against an
independent pure-Python twin of the whole chain — shingle, df-cap,
md5 minhash, banding, bucket cap, Jaccard verify, union-find — so the
expected answer carries the SAME LSH recall semantics (a near-dup
member whose perturbation happens to rewrite both band hashes is
legitimately unlinked, and both sides must agree on exactly when)."""

from __future__ import annotations

import hashlib
from collections import Counter

from pyspark.sql import functions as F

from arachne_spark.operators.dedup import doc_shingles, minhash_doc_dedup

N_DOCS = 20_000
GROUP = 4  # ids [4k, 4k+3] form one intended cluster when k % 3 == 0


def _rows():
    base = (
        "group g{g} writes about topic t{g} with detail d{g} and "
        "context c{g} plus outcome o{g} then summary s{g}"
    )
    uniq = (
        "solo u{i} text about subject x{i} with detail y{i} and "
        "context z{i} plus outcome w{i} then summary v{i}"
    )
    rows = []
    for i in range(N_DOCS):
        g = i // GROUP
        if g % 3 == 0:
            t = base.format(g=g)
            if i % GROUP == 3:
                t += " extra"  # near-dup member (J = 15/16)
        else:
            t = uniq.format(i=i)
        rows.append((i, t))
    return rows


def _py_dedup(rows, threshold=0.5, max_df=50, bucket_cap=20):
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    sh = {}
    for i, t in rows:
        toks = t.split(" ")
        ss = {
            " ".join(toks[j:j + 3]) for j in range(len(toks) - 2)
        }
        if ss:
            sh[i] = ss
    df = Counter(s for ss in sh.values() for s in ss)
    sh = {
        i: {s for s in ss if df[s] <= max_df} for i, ss in sh.items()
    }
    sh = {i: ss for i, ss in sh.items() if ss}

    sig = {
        i: [min(md5(f"{p}:{s}") for s in ss) for p in range(8)]
        for i, ss in sh.items()
    }
    buckets: dict[tuple[int, str], list[int]] = {}
    for i, m in sig.items():
        for b in range(2):
            h = md5("".join(m[b * 4:(b + 1) * 4]))
            buckets.setdefault((b, h), []).append(i)
    pairs = set()
    for docs in buckets.values():
        if len(docs) > bucket_cap:
            continue
        docs = sorted(docs)
        for x in range(len(docs)):
            for y in range(x + 1, len(docs)):
                pairs.add((docs[x], docs[y]))

    parent = {}

    def find(a):
        while parent.get(a, a) != a:
            parent[a] = parent.get(parent[a], parent[a])
            a = parent[a]
        return a

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in pairs:
        inter = len(sh[a] & sh[b])
        j = round(inter / (len(sh[a]) + len(sh[b]) - inter), 4)
        if j >= threshold:
            union(a, b)

    return {i: find(i) for i, _ in rows}


def test_short_docs_yield_zero_shingles(spark):
    """Documents with fewer than k tokens must yield ZERO shingles —
    matching both oracles (DuckDB range(1, len-1) and the python twin's
    empty range) — not throw: sequence(1, n) is DESCENDING for n < 1
    (sequence(1,0) = [1,0]) and the unguarded transform indexed toks[]
    out of bounds, an INVALID_ARRAY_INDEX error under ANSI mode."""
    rows = [
        (0, ""), (1, "a"), (2, "a b"), (3, "a b c"),
        (4, "one two three four"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    counts = {
        r["doc_id"]: r["n"]
        for r in doc_shingles(docs)
        .groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {3: 1, 4: 2}  # docs 0-2: no shingle rows at all

    # and the end-to-end dedup treats shingle-less docs as singletons
    out = {
        r["doc_id"]: (r["rep_id"], r["keep"])
        for r in minhash_doc_dedup(docs).collect()
    }
    assert out == {i: (i, True) for i in range(5)}


def test_minhash_dedup_20k_vs_python_twin(spark):
    rows = _rows()
    want = _py_dedup(rows)

    # sanity on the construction itself: most clustered groups fully
    # merge; every unique doc is its own rep
    n_groups = len(
        {i // GROUP for i in range(N_DOCS) if (i // GROUP) % 3 == 0}
    )
    fully = sum(
        1
        for g in range(N_DOCS // GROUP)
        if g % 3 == 0
        and all(want[g * GROUP + k] == g * GROUP for k in range(GROUP))
    )
    assert fully >= 0.8 * n_groups  # LSH recall on the near-dup member
    assert all(
        want[i] == i for i in range(N_DOCS) if (i // GROUP) % 3 != 0
    )

    out = minhash_doc_dedup(
        spark.createDataFrame(rows, "doc_id bigint, text string"),
        threshold=0.5,
    )
    got = {r["doc_id"]: (r["rep_id"], r["keep"]) for r in out.collect()}
    assert len(got) == N_DOCS
    bad = [
        i for i in range(N_DOCS)
        if got[i] != (want[i], want[i] == i)
    ]
    assert not bad, (len(bad), bad[:5])


def test_both_caps_fire_vs_python_twin(spark):
    """A corpus where both boilerplate caps decide the answer: 25
    identical docs and a near copy of them fill band buckets past
    MAX_BAND_BUCKET, and 65 docs (near-dup pairs) share a 20-token
    footer held past MAX_SHINGLE_DF; beside them a 4-doc near-dup
    cluster.  The dedup agrees with the twin, and the twin's answer
    changes when either cap is lifted, so each cap is load-bearing."""
    same = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = "north south east west up down left right in out"
    footer = " ".join(f"f{j}" for j in range(20))
    rows = [(i, same) for i in range(25)] + [(25, same + " lambda")]
    rows += [(26 + i, near + " extra" * (i == 3)) for i in range(4)]
    rows += [
        (30 + i, f"page p{i // 2} covers item m{i // 2} with note "
                 f"n{i // 2} {footer}" + " more" * (i % 2))
        for i in range(65)
    ]
    want = _py_dedup(rows)
    assert want != _py_dedup(rows, max_df=len(rows))
    assert want != _py_dedup(rows, bucket_cap=len(rows))
    # the identical docs' buckets are dropped: each is its own rep
    assert all(want[i] == i for i in range(26))

    out = minhash_doc_dedup(
        spark.createDataFrame(rows, "doc_id bigint, text string")
    )
    got = {r["doc_id"]: (r["rep_id"], r["keep"]) for r in out.collect()}
    assert got == {i: (want[i], want[i] == i) for i, _ in rows}


def test_benchmark_contamination(spark):
    """Decontamination sweep: documents embedding a benchmark item's
    k-gram verbatim are flagged with the right overlap counts;
    paraphrases sharing no k-gram and short docs are not."""
    from arachne_spark.operators.dedup import benchmark_contamination

    bench = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog"),
            (101, "pack my box with five dozen liquor jugs"),
        ],
        "bench_id bigint, text string",
    )
    docs = spark.createDataFrame(
        [
            # verbatim inclusion of bench 100's opening
            (1, "intro text the quick brown fox jumps over something"),
            # paraphrase: same words, different order -> no shared 5-gram
            (2, "over the lazy dog jumps the brown quick fox"),
            (3, "completely unrelated page about spark plans"),
            (4, "too short"),
            # contains a 5-gram from bench 101
            (5, "please pack my box with five dozen items today"),
        ],
        "doc_id bigint, text string",
    )
    got = {
        (r["doc_id"], r["bench_id"]): (r["n_overlap"], r["n_shingles"])
        for r in benchmark_contamination(docs, bench, k=5).collect()
    }
    # doc 1 shares the 5-grams "the quick brown fox jumps" and
    # "quick brown fox jumps over" — the windows fully inside both the
    # doc and the benchmark item
    assert (1, 100) in got and got[(1, 100)][0] == 2
    assert (5, 101) in got and got[(5, 101)][0] == 2
    assert not any(d in (2, 3, 4) for d, _ in got)
    # overlap_frac derives from the document's own shingle count
    n_overlap, n_shingles = got[(1, 100)]
    assert n_shingles == 5  # 9 tokens -> 5 distinct 5-grams


def py_exact_substring(docs: dict, k: int) -> dict:
    """Pure-Python twin of exact_substring_dedup: dict-based suffix
    scan, deliberately a different shape from the Spark plan."""
    toks = {i: t.split(" ") for i, t in docs.items()}
    occ: dict = {}
    for i in sorted(toks):
        tk = toks[i]
        for p in range(len(tk) - k + 1):
            occ.setdefault(" ".join(tk[p:p + k]), []).append((i, p))
    covered = {i: set() for i in docs}
    for lst in occ.values():
        if len(lst) > 1:
            first = min(lst)
            for i, p in lst:
                if (i, p) != first:
                    covered[i].update(range(p, p + k))
    return {
        i: " ".join(
            t for j, t in enumerate(tk) if j not in covered[i]
        )
        for i, tk in toks.items()
    }


def test_exact_substring_dedup_matches_twin(spark):
    from arachne_spark.operators.dedup import exact_substring_dedup

    span = "alpha beta gamma delta epsilon zeta"
    docs = {
        # doc 1 holds the first occurrence (min id): untouched
        1: f"intro one {span} outro one",
        # doc 2 repeats the span mid-text: span cut, rest survives
        2: f"start two {span} end two",
        # doc 3 repeats it twice (cross-doc AND self-repetition)
        3: f"{span} filler {span}",
        # doc 4 is entirely a copy of the span: reduced to empty
        4: span,
        # doc 5 short and unique: untouched
        5: "tiny unique doc",
        # doc 6 unique but long enough to shingle: untouched
        6: "the quick brown fox jumps over the lazy dog tonight",
    }
    # extra passthrough column with NULLs: a NULL column must not
    # break row preservation (anti-joins key on doc_id, never on
    # nullable passthrough columns)
    df = spark.createDataFrame(
        [(i, t, None if i % 2 else f"m{i}") for i, t in docs.items()],
        "doc_id bigint, text string, meta string",
    )
    for k in (4, 6):
        rows = exact_substring_dedup(df, k=k).collect()
        assert len(rows) == len(docs), k
        got = {r["doc_id"]: r["text"] for r in rows}
        want = py_exact_substring(docs, k)
        assert got == want, k
        assert {r["doc_id"]: r["meta"] for r in rows} == {
            i: (None if i % 2 else f"m{i}") for i in docs
        }
    # k=6 sanity spot checks (the span is exactly 6 tokens)
    got6 = {
        r["doc_id"]: r["text"]
        for r in exact_substring_dedup(df, k=6).collect()
    }
    assert got6[1] == docs[1]                      # first occurrence kept
    assert got6[2] == "start two end two"
    assert got6[4] == ""                           # fully covered
    assert got6[5] == docs[5] and got6[6] == docs[6]


def test_exact_substring_dedup_long_run_and_determinism(spark):
    """A long duplicated region (many overlapping duplicated shingles)
    merges into ONE covered interval; output is partition-invariant."""
    from arachne_spark.operators.dedup import exact_substring_dedup

    region = " ".join(f"w{i}" for i in range(30))
    docs = {
        10: f"prefix {region} suffix",
        20: f"other head {region} other tail",
        30: "completely unrelated text with enough tokens here",
    }
    df = spark.createDataFrame(
        list(docs.items()), "doc_id bigint, text string"
    )
    got = {
        r["doc_id"]: r["text"]
        for r in exact_substring_dedup(df, k=5).collect()
    }
    assert got == py_exact_substring(docs, 5)
    assert got[10] == docs[10]              # min (doc_id, pos) survives
    assert got[20] == "other head other tail"
    a = sorted(
        map(tuple, exact_substring_dedup(df.repartition(7), k=5).collect())
    )
    b = sorted(
        map(tuple,
            exact_substring_dedup(df.repartition(2, "text"), k=5).collect())
    )
    assert a == b


def test_exact_substring_dedup_randomized_differential(spark):
    """200 seeded docs over a 5-token alphabet (maximal shingle
    collisions, lengths 0-12, empty docs, single tokens, repeated
    runs) must match the pure-Python twin exactly — the bulk edge-case
    net for interval merging, min-occurrence ties, and short docs."""
    import random

    from arachne_spark.operators.dedup import exact_substring_dedup

    rng = random.Random(20260817)
    alphabet = ["a", "bb", "c", "dd", "e"]
    docs = {}
    for i in range(200):
        length = rng.randint(0, 12)
        docs[i] = " ".join(
            rng.choice(alphabet) for _ in range(length)
        )
    df = spark.createDataFrame(
        list(docs.items()), "doc_id bigint, text string"
    )
    for k in (2, 3):
        got = {
            r["doc_id"]: r["text"]
            for r in exact_substring_dedup(df, k=k).collect()
        }
        want = py_exact_substring(docs, k)
        assert got == want, k


def test_exact_substring_dedup_hot_span_at_scale(spark):
    """1e5 docs all embedding the same 6-token span (maximal shingle
    skew: every span shingle has df = 1e5): the per-hash count +
    struct-min is a partial aggregate (no reducer funnel), only the
    global (doc_id, pos)-min keeps the span, and every other doc loses
    exactly that span while its unique text survives byte-identical."""
    from pyspark.sql import functions as F

    from arachne_spark.operators.dedup import exact_substring_dedup

    n = 100_000
    span = "common header words repeated across corpus"
    # the token right after the span is already per-doc unique, so the
    # ONLY duplicated 6-gram is the span itself (a later divergence
    # point would make the bridging 6-grams corpus-duplicated too and
    # legitimately widen the cut — verified against the twin in the
    # small tests)
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit(f"{span} u"),
            F.col("id").cast("string"),
            F.lit(" body tail"),
        ).alias("text"),
    )
    out = exact_substring_dedup(docs, k=6)
    assert out.count() == n
    # min (doc_id, pos) = doc 0 at pos 0: doc 0 keeps the span
    kept = {
        r["doc_id"]: r["text"]
        for r in out.where(F.col("doc_id") < 2).collect()
    }
    assert kept[0] == f"{span} u0 body tail"
    assert kept[1] == "u1 body tail"
    # every other doc is cut to its unique remainder
    assert out.where(
        F.col("text")
        == F.concat(
            F.lit("u"), F.col("doc_id").cast("string"),
            F.lit(" body tail"),
        )
    ).count() == n - 1
