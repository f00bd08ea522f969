"""Property-based spot checks (SURVEY §5.2 item 5): round-trips and
algebraic invariants over generated frames."""

from __future__ import annotations

import string

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from etlbigdata_spark.operators import cleaning, joins, pivot, scale, setops

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

words = st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=8)


@given(pairs=st.lists(st.tuples(words, words), min_size=1, max_size=8))
@settings(**_SETTINGS)
def test_merge_split_roundtrip(spark, pairs):
    """split(merge(a, b)) recovers a and b when the separator is absent."""
    df = spark.createDataFrame(pairs, "a string, b string")
    merged = cleaning.merge_columns(df, ["a", "b"], "|", "m")
    split = cleaning.split_column(merged, "m", r"\|", n_parts=2)
    got = {(r.m_1, r.m_2) for r in split.collect()}
    assert got == set(pairs)


@given(
    xs=st.lists(st.integers(-100, 100), min_size=0, max_size=10),
    ys=st.lists(st.integers(-100, 100), min_size=0, max_size=10),
)
@settings(**_SETTINGS)
def test_union_count_additive(spark, xs, ys):
    a = spark.createDataFrame([(x,) for x in xs] or [(0,)], "v int").limit(len(xs))
    b = spark.createDataFrame([(y,) for y in ys] or [(0,)], "v int").limit(len(ys))
    assert setops.union_all([a, b]).count() == len(xs) + len(ys)


@given(
    left=st.lists(st.tuples(st.integers(0, 5), st.integers(0, 100)), min_size=1, max_size=10),
    right=st.lists(st.tuples(st.integers(0, 5), st.integers(0, 100)), min_size=0, max_size=10),
)
@settings(**_SETTINGS)
def test_join_containment(spark, left, right):
    """inner ⊆ left-join rows; left join preserves left cardinality for
    unique right keys."""
    l = spark.createDataFrame(left, "k int, v int")
    r = spark.createDataFrame(right or [(99, 0)], "k int, w int").dropDuplicates(["k"])
    inner = joins.join(l, r, "k", how="inner").count()
    outer = joins.join(l, r, "k", how="left").count()
    assert inner <= outer
    assert outer == len(left)


@given(rows=st.lists(st.tuples(st.integers(0, 3), st.sampled_from("ab"), st.integers(-5, 5)), min_size=1, max_size=12))
@settings(**_SETTINGS)
def test_pivot_preserves_group_sums(spark, rows):
    df = spark.createDataFrame(rows, "k int, c string, v int")
    wide = pivot.pivot(df, ["k"], "c", "v", agg="sum", values=["a", "b"])
    total_wide = wide.select(
        F.sum(F.coalesce(F.col("a"), F.lit(0)) + F.coalesce(F.col("b"), F.lit(0))).alias("t")
    ).collect()[0].t
    assert total_wide == sum(v for _, _, v in rows)


@given(vals=st.lists(st.integers(-1000, 1000), min_size=1, max_size=15))
@settings(**_SETTINGS)
def test_dedup_idempotent(spark, vals):
    df = spark.createDataFrame([(v,) for v in vals], "v int")
    once = cleaning.deduplicate(df)
    assert once.count() == len(set(vals))
    assert cleaning.deduplicate(once).count() == once.count()


# -- scale.py: salted plans must be RESULT-equal to plain ones on ANY
# input — null keys, null values, duplicate keys, any salt width.  The
# example tests in test_scale.py pin the skewed shape; these pin the
# algebra.

kv_rows = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(0, 3)),
        st.one_of(st.none(), st.integers(-50, 50)),
    ),
    min_size=1,
    max_size=20,
)


@given(rows=kv_rows, buckets=st.sampled_from([1, 2, 7]))
@settings(**_SETTINGS)
def test_salted_group_agg_equals_plain_property(spark, rows, buckets):
    df = spark.createDataFrame(rows, "k int, v int")
    plain = {
        tuple(r)
        for r in df.groupBy("k")
        .agg(
            F.sum("v").alias("s"),
            F.count("v").alias("n"),  # count(col): non-null, like the salted partial
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
        )
        .collect()
    }
    salted = {
        tuple(r)
        for r in scale.salted_group_agg(
            df,
            ["k"],
            [("v", "sum", "s"), ("v", "count", "n"), ("v", "min", "lo"), ("v", "max", "hi")],
            salt_buckets=buckets,
        ).collect()
    }
    assert salted == plain


@given(
    left=st.lists(st.tuples(st.integers(0, 4), st.integers(0, 9)), min_size=1, max_size=15),
    right=st.lists(st.tuples(st.integers(0, 4), st.integers(0, 9)), min_size=0, max_size=10),
    how=st.sampled_from(["inner", "left", "left_semi", "left_anti"]),
)
@settings(**_SETTINGS)
def test_salted_skew_join_equals_plain_property(spark, left, right, how):
    """Multiset equality (duplicates matter) for every supported join
    type, including duplicate keys on BOTH sides."""
    from collections import Counter

    l = spark.createDataFrame(left, "k int, v int")
    r = spark.createDataFrame(right or [(99, 0)], "k int, w int").limit(len(right))
    plain = Counter(tuple(x) for x in l.join(r, ["k"], how).collect())
    salted = Counter(
        tuple(x) for x in scale.salted_skew_join(l, r, ["k"], salt_buckets=3, how=how).collect()
    )
    assert salted == plain


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=18,
    )
)
@settings(**_SETTINGS)
def test_connected_components_match_union_find(spark, edges):
    """Min-label propagation (distributed) == union-find (reference
    implementation) on arbitrary graphs: same partition into components,
    each labeled by its minimum member."""
    from etlbigdata_spark.functions import dedup as fdedup

    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r.doc_id: r.component_id
        for r in fdedup.connected_components(pairs, max_iterations=30).collect()
    }

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comps: dict[int, list[int]] = {}
    for n in parent:
        comps.setdefault(find(n), []).append(n)
    want = {n: min(members) for members in comps.values() for n in members}
    assert got == want


@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcde"), min_size=0, max_size=10).map(" ".join),
        min_size=2,
        max_size=8,
    ),
    threshold=st.sampled_from([0.2, 0.5, 0.8]),
)
@settings(**_SETTINGS)
def test_ngram_jaccard_matches_python_reference(spark, docs, threshold):
    """The inverted-index Jaccard pipeline == a from-scratch Python
    implementation (independent of both Spark AND the DuckDB oracle,
    which mirrors the same SQL formulation): tokenize, 3-shingle,
    distinct sets, pairwise |∩|/|∪| ≥ threshold."""
    from etlbigdata_spark.functions import dedup as fdedup

    n = 3
    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): round(r.jaccard, 9)
        for r in fdedup.ngram_jaccard_pairs(df, "doc_id", "text", n=n, threshold=threshold).collect()
    }

    def shingles(text):
        toks = [t for t in text.lower().split() if t]
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    sets = {i: shingles(t) for i, t in rows}
    want = {}
    for a in sets:
        for b in sets:
            if a < b and sets[a] and sets[b]:
                inter = len(sets[a] & sets[b])
                if inter:
                    j = inter / len(sets[a] | sets[b])
                    if j >= threshold:
                        want[(a, b)] = round(j, 9)
    assert got == want


@settings(**_SETTINGS)
@given(
    st.lists(st.text(alphabet="abcx", min_size=0, max_size=6), min_size=1, max_size=8),
    st.integers(min_value=1, max_value=2),
)
def test_fuzzy_join_blocking_lossless_vs_bruteforce(spark, values, k):
    """Length-band blocking must find EXACTLY the pairs brute-force
    levenshtein finds — for arbitrary short strings and k ∈ {1,2}."""
    import itertools

    from etlbigdata_spark.operators import joins as fjoins

    df = spark.createDataFrame([(v,) for v in values], "t string")
    got = {
        (r.value_a, r.value_b)
        for r in fjoins.fuzzy_self_pairs(df, "t", max_distance=k).collect()
    }

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[len(b)]

    uniq = sorted(set(values))
    want = {
        (a, b) for a, b in itertools.combinations(uniq, 2) if lev(a, b) <= k
    }
    assert got == want


@settings(**_SETTINGS)
@given(
    st.lists(
        st.one_of(st.none(), st.floats(min_value=-100, max_value=100, allow_nan=False)),
        min_size=2, max_size=10,
    )
)
def test_interpolate_linear_matches_numpy(spark, series):
    """interpolate_linear == numpy.interp over the known points, for
    arbitrary null patterns (leading/trailing nulls stay null)."""
    import numpy as np

    from etlbigdata_spark.operators import aggregates

    df = spark.createDataFrame(
        [("k", i, v) for i, v in enumerate(series)], "g string, t int, v double"
    )
    got = {r.t: r.v for r in
           aggregates.interpolate_linear(df, ["g"], "t", ["v"], round_to=6).collect()}

    known_x = [i for i, v in enumerate(series) if v is not None]
    known_y = [series[i] for i in known_x]
    for i, v in enumerate(series):
        if v is not None:
            assert got[i] == v
        elif not known_x or i < known_x[0] or i > known_x[-1]:
            assert got[i] is None
        else:
            want = float(np.interp(i, known_x, known_y))
            assert got[i] is not None and abs(got[i] - want) < 1e-5, (i, got[i], want)


# -- stdlib xlsx parser round-trip -----------------------------------
_xlsx_cell = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(10**12), max_value=10**12),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    st.text(
        alphabet=st.characters(
            blacklist_categories=("Cs", "Cc"),  # no surrogates/control chars
        ),
        max_size=20,
    ),
)


@given(
    rows=st.lists(
        st.lists(_xlsx_cell, min_size=1, max_size=5), min_size=1, max_size=6
    ).filter(lambda rs: len({len(r) for r in rs}) == 1)
)
@settings(**_SETTINGS)
def test_xlsx_stdlib_parser_roundtrip(rows):
    """write(minimal SpreadsheetML) → _read_xlsx_stdlib recovers every
    cell: types (bool/int/float/str/None), XML-escaped text, unicode."""
    from etlbigdata_spark.sources import readers
    from test_io import _make_xlsx

    got = readers._read_xlsx_stdlib(_make_xlsx(rows))
    assert len(got) == len(rows)
    for want_row, got_row in zip(rows, got):
        for want, g in zip(want_row, got_row):
            if want is None or want == "":
                # empty cell and empty string both serialize to no <v>
                assert g is None or g == ""
            elif isinstance(want, bool):
                assert g is want
            elif isinstance(want, float) and want.is_integer():
                assert g == int(want)  # parser normalizes integral floats
            else:
                assert g == want, (want, g)


@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),      # key
            st.integers(min_value=0, max_value=50),     # ts
            st.sampled_from(["a", "b", "c", None]),     # attr
        ),
        min_size=1,
        max_size=25,
        unique_by=lambda e: (e[0], e[1]),  # one event per (key, ts)
    )
)
@settings(**_SETTINGS)
def test_scd2_intervals_partition_timeline(spark, events):
    """SCD2 invariants over random change streams: per key the intervals
    chain exactly (valid_to == next valid_from), exactly one open
    current interval exists, and replaying any original event timestamp
    against the history returns the attr of the latest change <= ts."""
    from etlbigdata_spark.operators import cleaning

    df = spark.createDataFrame(events, "k int, ts int, v string")
    hist = cleaning.scd2_history(df, ["k"], "ts", ["v"]).collect()
    by_key = {}
    for r in hist:
        by_key.setdefault(r.k, []).append(r)
    keys = {e[0] for e in events}
    assert set(by_key) == keys
    for k, rows in by_key.items():
        rows.sort(key=lambda r: r.valid_from)
        # chaining + exactly one current (the last)
        for cur, nxt in zip(rows, rows[1:]):
            assert cur.valid_to == nxt.valid_from
            assert not cur.is_current
        assert rows[-1].is_current and rows[-1].valid_to is None
        # first interval starts at the key's first event
        k_events = sorted(e for e in events if e[0] == k)
        assert rows[0].valid_from == k_events[0][1]
        # point-in-time replay: value at each event ts = latest change <= ts
        for _, ts, _ in k_events:
            covering = [r for r in rows if r.valid_from <= ts and (r.valid_to is None or ts < r.valid_to)]
            assert len(covering) == 1, (k, ts, rows)
            # expected = attr of the LATEST event at/before ts
            expected = sorted(((tt, v) for (kk, tt, v) in k_events if tt <= ts))[-1][1]
            assert covering[0].v == expected, (k, ts)


@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),      # key
            st.integers(min_value=0, max_value=50),     # ts
            st.sampled_from(["a", "b", "c", None]),     # attr
        ),
        min_size=1,
        max_size=20,
        unique_by=lambda e: (e[0], e[1]),
    ),
    probes=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=4),      # key (4 = no history)
            st.integers(min_value=-5, max_value=60),    # ts (may precede history)
        ),
        min_size=1,
        max_size=12,
    ),
)
@settings(**_SETTINGS)
def test_scd2_join_matches_interval_containment(spark, events, probes):
    """Round 6 — scd2_join over random histories and probe points must
    equal the brute-force interval-containment predicate: the attr of
    the unique interval containing the probe ts, or NULL when no
    interval does (pre-history, unknown key)."""
    from etlbigdata_spark.operators import cleaning, joins

    ev = spark.createDataFrame(events, "k int, ts int, v string")
    hist = cleaning.scd2_history(ev, ["k"], "ts", ["v"]).select(
        "k", "v", "valid_from", "valid_to"
    )
    hist_rows = hist.collect()
    facts = spark.createDataFrame(
        [(i, k, ts) for i, (k, ts) in enumerate(probes)], "fid int, k int, ts int"
    )
    got = {
        r.fid: r.dim_v for r in joins.scd2_join(facts, hist, "k", "ts").collect()
    }
    assert set(got) == set(range(len(probes)))  # left-join keeps all facts
    for i, (k, ts) in enumerate(probes):
        covering = [
            r.v for r in hist_rows
            if r.k == k and r.valid_from <= ts and (r.valid_to is None or ts < r.valid_to)
        ]
        expected = covering[0] if covering else None
        assert got[i] == expected, (i, k, ts, covering)


@given(
    docs=st.lists(
        st.lists(st.sampled_from("abc"), min_size=0, max_size=12).map(" ".join),
        min_size=2,
        max_size=6,
    ),
    n=st.sampled_from([2, 3]),
)
@settings(**_SETTINGS)
def test_duplicated_spans_match_python_reference(spark, docs, n):
    """The distributed span finder (doc-freq agg + semi-join + islands
    window) == a from-scratch Python implementation: positional
    n-grams, cross-doc duplicated grams, maximal consecutive runs.
    Tiny alphabet forces heavy cross-doc collisions, within-doc
    repeats, and overlapping runs — the island-merge edge cases."""
    from collections import defaultdict

    from etlbigdata_spark.functions import dedup as fdedup

    min_tokens = n + 1  # require a run of >= 2 consecutive positions
    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in fdedup.duplicated_spans(
            df, n=n, min_tokens=min_tokens, min_docs=2
        ).collect()
    }

    gram_docs = defaultdict(set)
    positions = {}
    for i, t in rows:
        toks = [w for w in t.lower().split() if w]
        pos = [(p + 1, " ".join(toks[p : p + n])) for p in range(len(toks) - n + 1)]
        positions[i] = pos
        for _, g in pos:
            gram_docs[g].add(i)
    want = set()
    for i, pos in positions.items():
        hits = sorted(p for p, g in pos if len(gram_docs[g]) >= 2)
        run: list[int] = []
        for p in hits + [None]:
            if run and (p is None or p != run[-1] + 1):
                start, end = run[0], run[-1] + n - 1
                if end - start + 1 >= min_tokens:
                    want.add((i, start, end, end - start + 1))
                run = []
            if p is not None:
                run.append(p)
    assert got == want


@given(
    docs=st.lists(
        st.lists(st.sampled_from("abc"), min_size=0, max_size=12).map(" ".join),
        min_size=2,
        max_size=6,
    ),
)
@settings(**_SETTINGS)
def test_cut_spans_iterates_to_spanless_fixed_point(spark, docs):
    """ONE cutting pass is not idempotent — splicing a span's neighbors
    can create fresh cross-doc duplicate runs ("a [c c] b" and
    "a [d d] b" both cut to "a b") — but ITERATING find → cut must
    reach a corpus with zero duplicated spans, and must terminate,
    because each pass that reports anything strictly shrinks the total
    token count.  For arbitrary tiny-alphabet corpora (heavy
    collisions, repeats, overlaps)."""
    from etlbigdata_spark.functions import dedup as fdedup

    cur = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    total_tokens = sum(len(t.split()) for t in docs)
    for _ in range(total_tokens + 1):  # strict-shrink bound
        fdedup.release_cached()  # one persisted shingle table per pass
        spans = fdedup.duplicated_spans(cur, n=2, min_tokens=3, min_docs=2)
        if spans.count() == 0:
            break
        # materialize: cut_spans lineage would otherwise nest per pass
        cur = spark.createDataFrame(
            fdedup.cut_spans(cur, spans).select("doc_id", "text").collect(),
            "doc_id long, text string",
        )
    else:
        raise AssertionError("find->cut did not converge within the token bound")
    assert fdedup.duplicated_spans(cur, n=2, min_tokens=3, min_docs=2).count() == 0


@given(
    left=st.lists(
        st.tuples(st.integers(0, 1), st.integers(0, 60), st.integers(0, 40)),
        min_size=1, max_size=10,
    ),
    right=st.lists(
        st.tuples(st.integers(0, 1), st.integers(0, 60), st.integers(0, 40)),
        min_size=1, max_size=10,
    ),
    width=st.sampled_from([1, 7, 16, 64]),
)
@settings(**_SETTINGS)
def test_interval_overlap_join_matches_bruteforce(spark, left, right, width):
    """Meeting-bucket exactly-once, verified against the quadratic
    definition for random geometries (nested/containing/touching/
    disjoint intervals, zero-length, multi-bucket spans) and bucket
    widths from finer-than-every-interval to coarser-than-the-domain."""
    from etlbigdata_spark.operators import joins

    lrows = [(k, lo, lo + ln, i) for i, (k, lo, ln) in enumerate(left)]
    rrows = [(k, lo, lo + ln, i) for i, (k, lo, ln) in enumerate(right)]
    ldf = spark.createDataFrame(lrows, "k int, llo long, lhi long, lid int")
    rdf = spark.createDataFrame(rrows, "k int, rlo long, rhi long, rid int")
    got = sorted(
        (r.lid, r.rid)
        for r in joins.interval_overlap_join(
            ldf, rdf, "k", "llo", "lhi", "rlo", "rhi", bucket_width=width
        ).collect()
    )
    want = sorted(
        (li, ri)
        for (lk, llo, lhi, li) in lrows
        for (rk, rlo, rhi, ri) in rrows
        if lk == rk and llo <= rhi and rlo <= lhi
    )
    assert got == want


@given(
    texts=st.lists(
        st.none() | st.text(alphabet="aZ9_-. \t\n\r\x0b\x0c\xa0\u2003", max_size=12),
        min_size=1,
        max_size=8,
    ),
)
@settings(**_SETTINGS)
def test_word_count_regexp_count_equals_tokens_col(spark, texts):
    """``regexp_count(t, '\\S+')`` == ``size(tokens_col(t))`` — maximal
    non-whitespace runs are the '\\s+' split with empties removed — on
    whitespace-heavy text: tabs, \\x0b, NBSP and em space (neither is
    '\\s' in Java regex, so both spellings keep them inside a word),
    leading/trailing runs, empty strings and NULL (NULL in both).
    ``text._corpus_stats`` and ``corpus.packed_sequences``' offsets
    branch count words this way and rely on it.  ``token_count_col``
    is the spelling that differs: it counts ``[A-Za-z0-9_]+`` runs, so
    "a-b" is one word and two tokens."""
    from etlbigdata_spark.functions import text as ftext

    rows = [*texts, "a-b"]
    got = (
        spark.createDataFrame(list(enumerate(rows)), "i int, t string")
        .select(
            "i",
            F.regexp_count("t", F.lit(r"\S+")).alias("runs"),
            F.size(ftext.tokens_col("t")).alias("words"),
            ftext.token_count_col("t").alias("tokens"),
        )
        .collect()
    )
    for r in got:
        t = rows[r.i]
        # Python's split() also splits on NBSP and em space; Java's \s does not
        want = None if t is None else len(t.replace("\xa0", "a").replace("\u2003", "a").split())
        assert (r.runs, r.words) == (want, want), t
    assert next(r.tokens for r in got if rows[r.i] == "a-b") == 2
