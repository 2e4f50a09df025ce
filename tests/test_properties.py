"""Property-based tests (hypothesis) for pure functions + randomized
Spark-vs-oracle comparisons for the distributed operators."""

from __future__ import annotations

import struct
import zlib

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from entity_resolution_spark.functions.similarity import (
    _JW_CHUNK_CELLS,
    _JW_CHUNK_ROWS,
    _jw_chunks,
    jaro_winkler_py,
    jaro_winkler_udf,
)
from entity_resolution_spark.functions.text import extract_text_py
from entity_resolution_spark.ml.kmeans import kmeans_fit_predict

words = st.text(alphabet="abcdefghijklmnopqrstuvwxyzäöüß ", min_size=0, max_size=20)


@given(words, words)
@settings(max_examples=200, deadline=None)
def test_jaro_winkler_properties(a, b):
    s = jaro_winkler_py(a, b)
    assert 0.0 <= s <= 1.0
    assert jaro_winkler_py(b, a) == s            # symmetric
    assert jaro_winkler_py(a, a) == 1.0 or a == ""


jw_text = st.one_of(
    st.text(alphabet="ab\x00é\U0001d11e\U0001f600 ", max_size=6),
    st.text(alphabet="abcé\x00\U0001d11e", max_size=40),
    st.text(st.characters(exclude_categories=("Cs",)), max_size=300),
)


@given(st.lists(st.tuples(jw_text, jw_text), min_size=1, max_size=40))
@settings(max_examples=25, deadline=None)
def test_jaro_winkler_udf_bit_identical_to_reference(spark, rows):
    """The numpy kernel over one Arrow batch of mixed lengths, NULs,
    non-BMP characters and empty strings == the Python reference, exactly.
    Two rows carry a ~2000-character title, so the batch spans several
    cell-capped chunks."""
    rows = rows + [(a, a) for a, _ in rows[:3]] + [(a[:-1] + "a", a) for a, _ in rows[:3]]
    big = ("x" + rows[0][0]) * (2000 // (len(rows[0][0]) + 1) + 1)
    rows = rows + [(big, big[::-1]), (rows[-1][1], big[1:])]
    df = spark.createDataFrame(rows, "s1 string, s2 string").coalesce(1)
    got = [r[0] for r in df.select(jaro_winkler_udf("s1", "s2")).collect()]
    assert got == [jaro_winkler_py(a, b) for a, b in rows]


@given(st.lists(st.integers(0, 5000), max_size=3000))
@settings(max_examples=50, deadline=None)
def test_jw_chunks_cover_rows_within_caps(lengths):
    """Chunks tile the length-sorted rows in order; each holds at most the
    row cap and, unless it is a single row, at most the cell cap."""
    L = np.sort(np.array(lengths, dtype=np.int64))
    chunks = list(_jw_chunks(L))
    bounds = [0] + [e for _, e in chunks]
    assert [s for s, _ in chunks] == bounds[:-1] and bounds[-1] == len(L)
    for s, e in chunks:
        assert 1 <= e - s <= _JW_CHUNK_ROWS
        assert e - s == 1 or (e - s) * max(int(L[e - 1]), 1) ** 2 <= _JW_CHUNK_CELLS


@given(st.binary(max_size=200))
@settings(max_examples=200, deadline=None)
def test_extract_text_total_and_deterministic(data):
    # never raises, always returns a string, pure function of the bytes
    out1 = extract_text_py(data)
    out2 = extract_text_py(data)
    assert isinstance(out1, str) and out1 == out2
    assert "\n" in out1


@given(st.lists(st.tuples(st.integers(0, 30), st.integers(0, 30)), max_size=40))
@settings(max_examples=100, deadline=None)
def test_union_find_oracle_properties(edges):
    """The pandas-oracle union-find used in parity tests is itself verified:
    same-component iff connected (BFS ground truth)."""
    from pandas_oracle import components_py

    nodes = sorted({v for e in edges for v in e} | {99})
    comp = components_py(nodes, edges)
    # BFS ground truth
    adj = {n: set() for n in nodes}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)

    def reachable(s):
        seen, stack = {s}, [s]
        while stack:
            for nb in adj[stack.pop()]:
                if nb not in seen:
                    seen.add(nb)
                    stack.append(nb)
        return seen

    for n in nodes:
        r = reachable(n)
        assert comp[n] == min(r)


@given(
    st.integers(2, 5),
    st.integers(10, 40),
    st.integers(0, 10_000),
)
@settings(max_examples=25, deadline=None)
def test_kmeans_properties(k, n, seed):
    rng = np.random.default_rng(seed)
    X = rng.normal(size=(n, 3))
    labels, inertia = kmeans_fit_predict(X, k)
    assert len(labels) == n
    assert inertia >= 0
    assert set(labels) <= set(range(min(k, n)))
    # labels are first-appearance ordered: label of row 0 is always 0
    assert labels[0] == 0


def test_spark_cc_vs_union_find_randomized(spark):
    """5 random graphs: large/small-star CC == union-find oracle."""
    from pandas_oracle import components_py

    from entity_resolution_spark.operators import components

    rng = np.random.default_rng(42)
    for trial in range(5):
        n = int(rng.integers(5, 60))
        m = int(rng.integers(0, 3 * n))
        edges = [
            (int(rng.integers(0, n)), int(rng.integers(0, n))) for _ in range(m)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        vertices = list(range(n))
        exp = components_py(vertices, edges)
        v = spark.createDataFrame([(x,) for x in vertices], ["record_id"])
        if edges:
            e = spark.createDataFrame(edges, ["src", "dst"])
        else:
            e = spark.createDataFrame([], "src long, dst long")
        got = {
            r["record_id"]: r["component_id"]
            for r in components.assign_components(v, e).collect()
        }
        assert got == exp, f"trial {trial}: mismatch"


@given(
    st.lists(
        st.tuples(st.integers(0, 40), st.booleans()), min_size=2, max_size=60
    ).filter(lambda xs: len({y for _, y in xs}) == 2)
)
@settings(max_examples=30, deadline=None)
def test_auroc_binned_equals_naive_ranksum(spark, pairs):
    """The binned, partitioned-window AUROC must equal the naive tie-corrected
    rank-sum on arbitrary (score, label) multisets."""
    from entity_resolution_spark.operators.evaluate import auroc

    scores = np.array([s / 10.0 for s, _ in pairs])
    ys = np.array([1 if y else 0 for _, y in pairs])
    # naive: average ranks (scipy-free)
    order = np.argsort(scores, kind="stable")
    ranks = np.empty(len(scores), dtype=float)
    sorted_s = scores[order]
    i = 0
    while i < len(sorted_s):
        j = i
        while j < len(sorted_s) and sorted_s[j] == sorted_s[i]:
            j += 1
        ranks[order[i:j]] = (i + 1 + j) / 2.0  # average of ranks i+1..j
        i = j
    npos, nneg = ys.sum(), (1 - ys).sum()
    expect = (ranks[ys == 1].sum() - npos * (npos + 1) / 2.0) / max(npos * nneg, 1)
    df = spark.createDataFrame(
        [(float(s), bool(y)) for s, y in zip(scores, ys)], "score double, is_match boolean"
    )
    got = auroc(df, n_bins=4).collect()[0]["auroc"]
    assert abs(got - round(float(expect), 6)) <= 1e-6, (got, expect)


@given(st.integers(0, 16), st.integers(0, 2**60 - 1), st.integers(0, 2**60 - 1))
@settings(max_examples=200, deadline=None)
def test_simhash_banding_pigeonhole(k, a, b):
    """For any two signatures within Hamming distance k, the (k+1)-band split
    from simhash_bands guarantees at least one identical band."""
    from entity_resolution_spark.operators.dedup import simhash_bands

    # force hamming(a, b) <= k by copying a and flipping at most k bits
    rng = np.random.default_rng((a ^ b) % (2**32))
    b2 = a
    for bit in rng.choice(60, size=min(k, 60), replace=False):
        if rng.random() < 0.7:
            b2 ^= 1 << int(bit)
    hamming = bin(a ^ b2).count("1")
    assert hamming <= k
    bands = simhash_bands(max_hamming=k)
    shared = any(
        (a >> off) & ((1 << w) - 1) == (b2 >> off) & ((1 << w) - 1)
        for off, w in bands
    )
    assert shared


def test_klsh_lloyd_parallelism_invariant(spark):
    """Distributed fixed-iteration Lloyd must produce the identical
    assignment at any partitioning — the determinism contract that makes
    its oracle (and a 1000-executor run) reproducible."""
    import numpy as np
    from pyspark.sql import functions as F

    from entity_resolution_spark.operators.klsh import klsh_lloyd

    rng = np.random.default_rng(3)
    rows = [
        (int(i % 7), int(i), float(round(rng.normal(), 6)),
         float(round(rng.normal(), 6)))
        for i in range(140)
    ]
    base = spark.createDataFrame(
        rows, "component_id long, record_id long, f1 double, f2 double"
    )
    results = []
    for parts in (1, 4, 13):
        df = base.repartition(parts)
        got = {
            (r["component_id"], r["record_id"]): r["cluster_id"]
            for r in klsh_lloyd(df, ["f1", "f2"], k=3, iters=4).collect()
        }
        results.append(got)
    assert results[0] == results[1] == results[2]
    assert len(results[0]) == 140
    # every component actually split (k=3 over 20 members)
    comps = {c for c, _ in results[0]}
    for c in comps:
        assert len({v for (cc, _), v in results[0].items() if cc == c}) > 1


# --- PNG writer ---------------------------------------------------------------

_img_shapes = st.tuples(st.integers(1, 24), st.integers(1, 24))


@given(_img_shapes, st.integers(1, 4), st.randoms(use_true_random=False))
@settings(max_examples=40, deadline=None)
def test_png_round_trip_property(shape, nch, rnd):
    """The PNG writer: IHDR carries the shape and colour type, and
    un-filtering the single IDAT stream returns the input pixels."""
    from entity_resolution_spark.operators.multimodal import PNG_SIG, encode_png

    h, w = shape
    rng = np.random.default_rng(rnd.randrange(2**32))
    size = (h, w) if nch == 1 else (h, w, nch)
    px = rng.integers(0, 256, size=size, dtype=np.uint8)
    data = encode_png(px)
    assert data[:8] == PNG_SIG
    chunks, pos = {}, 8
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag, body = data[pos + 4 : pos + 8], data[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(">I", data[pos + 8 + length : pos + 12 + length])
        assert crc == zlib.crc32(tag + body)
        chunks[tag] = body
        pos += 12 + length
    assert list(chunks) == [b"IHDR", b"IDAT", b"IEND"]
    w2, h2, depth, color_type = struct.unpack(">IIBB", chunks[b"IHDR"][:10])
    assert (w2, h2, depth) == (w, h, 8)
    assert color_type == {1: 0, 2: 4, 3: 2, 4: 6}[nch]
    rows = np.frombuffer(zlib.decompress(chunks[b"IDAT"]), dtype=np.uint8)
    rows = rows.reshape(h, 1 + w * nch)
    assert not rows[:, 0].any()  # filter type 0 on every row
    assert np.array_equal(rows[:, 1:].reshape(size), px)


@given(st.lists(
    st.text(alphabet="abcdef ", min_size=0, max_size=30), min_size=1,
    max_size=8,
))
@settings(max_examples=60, deadline=None)
def test_bpe_encode_join_invariant(texts):
    """For ANY trained merge table, concatenating a text's tokens
    reproduces its whitespace-normalized words + end sentinels — BPE only
    regroups characters, never alters them."""
    from entity_resolution_spark.functions.bpe import bpe_encode, train_bpe

    merges = train_bpe(texts, n_merges=30)
    ranks = {p: i for i, p in enumerate(merges)}
    for t in texts:
        toks = bpe_encode(t, ranks)
        want = "".join(w + " " for w in t.split())
        assert "".join(toks) == want
        # token count never exceeds character count of the normalized text
        assert len(toks) <= max(len(want), 1)
