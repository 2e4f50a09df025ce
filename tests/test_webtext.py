"""Unit tests for operators/webtext.py (repetition signals + chunk dedup)."""

from __future__ import annotations

from entity_resolution_spark.operators.webtext import (
    cross_doc_chunk_dups,
    repetition_signals,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_repetition_signals_known_values(spark):
    df = _docs(
        spark,
        [
            (1, "a a a b"),  # bigrams: "a a" x2, "a b" -> dup 2/3
            (2, "x"),  # single token, no bigrams
            (3, "p q p q p q"),  # bigrams: pq x3, qp x2 -> all 5 dup
        ],
    )
    out = {r["doc_id"]: r.asDict() for r in repetition_signals(df).collect()}

    r1 = out[1]
    assert r1["n_tokens"] == 4 and r1["n_distinct"] == 2
    assert r1["distinct_ratio"] == 0.5
    assert r1["top_token_count"] == 3 and r1["top_token_frac"] == 0.75
    assert r1["n_bigrams"] == 3 and r1["dup_bigram_frac"] == round(2 / 3, 6)

    r2 = out[2]
    assert r2["n_tokens"] == 1 and r2["n_bigrams"] == 0
    assert r2["dup_bigram_frac"] == 0.0

    r3 = out[3]
    assert r3["n_bigrams"] == 5 and r3["dup_bigram_frac"] == 1.0


def test_repetition_signals_empty_doc_absent(spark):
    # an all-whitespace doc tokenizes to [] and produces no output row
    # (a quality filter would drop it regardless)
    df = _docs(spark, [(1, "  "), (2, "a b")])
    ids = [r["doc_id"] for r in repetition_signals(df).collect()]
    assert ids == [2]


def test_chunk_dups_cross_doc_only(spark):
    shared = " ".join(f"w{i}" for i in range(8))
    df = _docs(
        spark,
        [
            (1, shared + " tail1 tail1x"),
            (2, shared + " other suffix here"),
            (3, "unique words only in this document right here now"),
            # same chunk twice within ONE doc -> n_docs=1 -> excluded
            (4, " ".join(["z"] * 16)),
        ],
    )
    rows = cross_doc_chunk_dups(df, chunk_tokens=8).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_docs"] == 2 and r["n_occurrences"] == 2
    assert r["sample_doc_id"] == 1


def test_chunk_dups_trailing_partial_chunk_counts(spark):
    # 10 tokens -> chunks of 8 + trailing 2; the trailing partial chunk is
    # itself dedup-able across docs
    tokens = [f"t{i}" for i in range(10)]
    df = _docs(
        spark,
        [
            (1, " ".join(tokens)),
            (2, " ".join([f"a{i}" for i in range(8)] + tokens[8:])),
        ],
    )
    rows = cross_doc_chunk_dups(df, chunk_tokens=8).collect()
    assert len(rows) == 1
    assert rows[0]["n_docs"] == 2  # the shared 2-token tail chunk


def test_benchmark_contamination_known_values(spark):
    from entity_resolution_spark.operators.webtext import benchmark_contamination

    bench = _docs(
        spark,
        [
            (100, "the quick brown fox jumps over the lazy dog"),
            (101, "completely different benchmark text entirely here"),
        ],
    )
    train = _docs(
        spark,
        [
            # contains "quick brown fox jumps" (one shared 4-gram with 100)
            (1, "prefix quick brown fox jumps suffix"),
            # contains two overlapping shared 4-grams with 100
            (2, "the quick brown fox jumps"),
            # clean
            (3, "no overlap with anything at all in this sentence"),
            # shorter than n -> no grams at all
            (4, "too short"),
        ],
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in benchmark_contamination(train, bench, n=4).collect()
    }
    assert set(out) == {1, 2}
    assert out[1]["n_contaminated_grams"] == 1 and out[1]["n_bench_docs"] == 1
    assert out[2]["n_contaminated_grams"] == 2 and out[2]["n_bench_docs"] == 1


def test_pii_scan_counts_and_redaction(spark):
    import hashlib

    from entity_resolution_spark.operators.webtext import pii_scan

    df = _docs(
        spark,
        [
            (1, "mail a.b%c@ex-1.org and d@e.io from 10.0.0.1 call 555-123-4567"),
            (2, "nothing sensitive here"),
        ],
    )
    out = {r["doc_id"]: r.asDict() for r in pii_scan(df).collect()}
    assert out[1]["n_emails"] == 2
    assert out[1]["n_ipv4"] == 1
    assert out[1]["n_phones"] == 1
    redacted = "mail <EMAIL> and <EMAIL> from <IP> call <PHONE>"
    assert out[1]["redacted_md5"] == hashlib.md5(redacted.encode()).hexdigest()
    assert out[2]["n_emails"] == out[2]["n_ipv4"] == out[2]["n_phones"] == 0
    assert (
        out[2]["redacted_md5"]
        == hashlib.md5(b"nothing sensitive here").hexdigest()
    )


def test_kmv_small_cardinality_is_exact(spark):
    from pyspark.sql import functions as F

    from entity_resolution_spark.operators.sketches import kmv_distinct_estimate

    df = spark.range(50).select((F.col("id") % 20).cast("string").alias("v"))
    row = kmv_distinct_estimate(df, "v", k=128).collect()[0]
    assert row["n_kept"] == 20
    assert row["est_distinct"] == 20.0


def test_kmv_estimate_accuracy_and_partition_invariance(spark):
    from pyspark.sql import functions as F

    from entity_resolution_spark.operators.sketches import kmv_distinct_estimate

    df = spark.range(20_000).select(F.col("id").cast("string").alias("v"))
    a = kmv_distinct_estimate(df, "v", k=256).collect()[0]
    b = kmv_distinct_estimate(df.repartition(17), "v", k=256).collect()[0]
    assert a.asDict() == b.asDict()  # partition-invariant by construction
    # KMV std error ~ 1/sqrt(k-2) ~ 6.3%; allow 4 sigma
    assert abs(a["est_distinct"] - 20_000) / 20_000 < 0.25, a["est_distinct"]


def test_canonical_url_known_values(spark):
    from pyspark.sql import functions as F

    from entity_resolution_spark.functions.urls import canonical_url

    cases = [
        # scheme/host case, www, default port, dup+trailing slash, tracking
        # params, param order, fragment — all collapse to one form
        ("HTTPS://WWW.Example.COM:443//a//b/?b=2&utm_source=x&a=1#frag",
         "https://example.com/a/b?a=1&b=2"),
        ("https://example.com/a/b?a=1&b=2",
         "https://example.com/a/b?a=1&b=2"),
        # http default port stripped; empty + tracking-only query dropped
        ("http://Example.com:80/x/?gclid=1&ref=z&",
         "http://example.com/x"),
        # NON-default port for the scheme is kept
        ("http://example.com:443/x", "http://example.com:443/x"),
        ("https://example.com:80/x", "https://example.com:80/x"),
        ("https://example.com:8080/x", "https://example.com:8080/x"),
        # root path collapses to empty, no query
        ("http://a.io/", "http://a.io"),
    ]
    df = spark.createDataFrame(
        [(u,) for u, _ in cases], "url string"
    ).withColumn("canon", canonical_url(F.col("url")))
    got = [r["canon"] for r in df.collect()]
    assert got == [want for _, want in cases]


def test_strip_boilerplate_known_values(spark):
    from entity_resolution_spark.operators.webtext import strip_boilerplate

    footer = "(c) example"
    rows = []
    for d in range(6):
        body = f"unique body line {d}"
        rows.append((d, "a", f"cookie banner\n{body}\n  cookie banner  \n{footer}"))
    # same banner text on another source, but only 2 docs there: kept
    rows.append((10, "b", f"cookie banner\nother body\n{footer}"))
    rows.append((11, "b", f"cookie banner\nmore body\n{footer}"))
    df = spark.createDataFrame(rows, "doc_id long, source string, page string")
    out = {
        r["doc_id"]: r.asDict()
        for r in strip_boilerplate(df, min_docs=5).collect()
    }
    # source a: banner (trim-normalized, counted once per doc but appearing
    # twice per page) and footer both hit 6 distinct docs -> stripped
    for d in range(6):
        assert out[d]["n_lines"] == 4
        assert out[d]["n_boiler"] == 3  # both banner copies + footer
        assert out[d]["cleaned"] == f"unique body line {d}"
    # source b below threshold: nothing stripped, original order preserved
    assert out[10]["n_boiler"] == 0
    assert out[10]["cleaned"] == "cookie banner\nother body\n(c) example"


def test_strip_boilerplate_all_boiler_doc_yields_empty(spark):
    from entity_resolution_spark.operators.webtext import strip_boilerplate

    rows = [(d, "s", "same\nsame") for d in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, source string, page string")
    out = strip_boilerplate(df, min_docs=5).collect()
    assert all(r["cleaned"] == "" and r["n_boiler"] == 2 for r in out)
    assert len(out) == 5


def test_hll_accuracy_and_partition_invariance(spark):
    from pyspark.sql import functions as F

    from entity_resolution_spark.operators.sketches import (
        hll_distinct_estimate,
    )

    # 20k distinct values, each appearing twice (duplicates must not move
    # the registers)
    df = spark.range(40_000).select(
        (F.col("id") % 20_000).cast("string").alias("v")
    )
    a = hll_distinct_estimate(df, "v").collect()[0].asDict()
    b = (
        hll_distinct_estimate(df.repartition(23), "v").collect()[0].asDict()
    )
    assert a == b  # register maxes are order/partition invariant, exactly
    # HLL std error ~ 1.04/sqrt(256) ~ 6.5%; allow 4 sigma
    assert abs(a["est_distinct"] - 20_000) / 20_000 < 0.26, a


def test_hll_small_range_linear_counting(spark):
    from pyspark.sql import functions as F

    from entity_resolution_spark.operators.sketches import (
        hll_distinct_estimate,
    )

    df = spark.range(30).select(F.col("id").cast("string").alias("v"))
    row = hll_distinct_estimate(df, "v").collect()[0]
    assert row["n_zero_registers"] >= 226  # at most 30 registers hit
    # linear counting is near-exact at this occupancy
    assert abs(row["est_distinct"] - 30) <= 2, row["est_distinct"]


def test_pack_sequences_budget_and_invariance(spark):
    from pyspark.sql import functions as F

    from entity_resolution_spark.operators.packing import pack_sequences

    df = spark.range(2_000).select(
        F.col("id").alias("doc_id"),
        (F.pmod(F.col("id") * 37, F.lit(400)) + 1).cast("long").alias(
            "n_tokens"
        ),
    )
    out = pack_sequences(df, budget_tokens=1000, n_shards=4).collect()
    assert len(out) == 2_000
    # next-fit invariant: every pack's total minus its LAST-ENTERING doc is
    # under budget (i.e. pre-assignment cumsum < budget for every member)
    import collections

    packs = collections.defaultdict(list)
    for r in out:
        packs[(r["shard"], r["pack_id"])].append(r["n_tokens"])
    for sizes in packs.values():
        assert sum(sizes) - max(sizes) < 1000
    # consecutive pack ids per shard, starting at 0
    per_shard = collections.defaultdict(set)
    for s, p in packs:
        per_shard[s].add(p)
    for ids in per_shard.values():
        assert ids == set(range(len(ids)))
    # partition-invariant (integer window arithmetic)
    out2 = pack_sequences(
        df.repartition(13), budget_tokens=1000, n_shards=4
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_pack_sequences_rejects_bad_budget():
    import pytest

    from entity_resolution_spark.operators.packing import pack_sequences

    with pytest.raises(ValueError):
        pack_sequences(None, budget_tokens=0)


def test_packed_texts_order_and_totals(spark):
    import hashlib

    from pyspark.sql import functions as F

    from entity_resolution_spark.operators.packing import packed_texts

    df = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc "), F.col("id").cast("string")).alias("text"),
        F.lit(2).cast("long").alias("n_tokens"),
    )
    out = packed_texts(df, budget_tokens=10, n_shards=2).collect()
    # totals partition the corpus
    assert sum(r["n_docs"] for r in out) == 200
    assert sum(r["n_tokens"] for r in out) == 400
    # concat order inside a pack == the packing's (hash, id) order
    def h(i):
        return int(hashlib.md5(f"pack-v1:{i}".encode()).hexdigest()[:15], 16)

    for r in out:
        ids = [int(t.split()[1]) for t in r["text"].split("\n\n")]
        assert ids == sorted(ids, key=lambda i: (h(i), i))
        assert len(ids) == r["n_docs"]
    out2 = packed_texts(df.repartition(11), budget_tokens=10, n_shards=2)
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2.collect()))


def test_host_of_known_values(spark):
    from pyspark.sql import functions as F

    from entity_resolution_spark.functions.urls import host_of

    cases = [
        ("HTTPS://WWW.Example.COM:443/a?b=1", "example.com"),
        ("http://sub.Site.org:8080/", "sub.site.org"),
        ("https://plain.io/x", "plain.io"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r["h"] for r in df.withColumn("h", host_of(F.col("url"))).collect()]
    assert got == [want for _, want in cases]


def test_blocklist_parent_domain_and_specificity(spark):
    from entity_resolution_spark.functions.urls import blocklist_hits

    pages = spark.createDataFrame(
        [
            (1, "https://ads.tracker.net/x"),     # parent-domain match
            (2, "https://sub.ads.tracker.net/y"), # grandparent + parent
            (3, "https://tracker.net/z"),         # exact match
            (4, "https://safetracker.net/ok"),    # NOT a suffix match
            (5, "https://clean.example.io/ok"),
        ],
        "doc_id long, url string",
    )
    blocked = spark.createDataFrame(
        [("tracker.net",), ("ads.tracker.net",)], "domain string"
    )
    got = {
        r["doc_id"]: r["matched_domain"]
        for r in blocklist_hits(pages, blocked).collect()
    }
    # most specific entry wins where several match
    assert got == {1: "ads.tracker.net", 2: "ads.tracker.net",
                   3: "tracker.net"}


def test_blocklist_survives_malformed_and_single_label_hosts(spark):
    """Real crawl data contains malformed URLs and bare hosts; the
    suffix-explode must yield an empty suffix list for <2-label hosts
    rather than throwing (sequence(0,-1) is descending and slice(-1)
    aborts the job)."""
    from entity_resolution_spark.functions.urls import (
        blocklist_hits,
        domain_suffixes,
        host_of,
    )
    from pyspark.sql import functions as F

    pages = spark.createDataFrame(
        [
            (1, "http://localhost/x"),        # single-label host
            (2, "not a url at all"),          # host extracts to ''
            (3, "https://ads.tracker.net/y"), # normal blocked host
            (4, ""),                          # empty string
        ],
        "doc_id long, url string",
    )
    blocked = spark.createDataFrame([("tracker.net",)], "domain string")
    got = {
        r["doc_id"]: r["matched_domain"]
        for r in blocklist_hits(pages, blocked).collect()
    }
    assert got == {3: "tracker.net"}
    # direct check of the suffix list shape on degenerate hosts
    sfx = {
        r["doc_id"]: r["s"]
        for r in pages.select(
            "doc_id", domain_suffixes(host_of(F.col("url"))).alias("s")
        ).collect()
    }
    assert sfx[1] == [] and sfx[2] == [] and sfx[4] == []
    assert sfx[3] == ["ads.tracker.net", "tracker.net"]


def test_hll_empty_input_reports_zero(spark):
    from pyspark.sql import functions as F

    from entity_resolution_spark.operators.sketches import (
        hll_distinct_estimate,
    )

    df = spark.range(0).select(F.col("id").cast("string").alias("v"))
    row = hll_distinct_estimate(df, "v").collect()[0]
    m = row["m"]
    assert row["n_zero_registers"] == m
    assert row["s_scaled"] == m * (1 << 53)  # all registers at rho=0
    assert row["est_distinct"] == 0.0


def test_top_tokens_boundary_class_is_engine_independent(spark):
    """Java regex \\s matches \\x0B (vertical tab); DuckDB's RE2 \\s does
    not. top_tokens therefore splits on the explicit class [ \\t\\n\\r\\f]+
    in BOTH engines — this pins the parity: a \\x0B-joined pair stays ONE
    token on each side."""
    import duckdb

    from pyspark.sql import functions as F

    s = "a\x0bb c\td"
    df = spark.createDataFrame([(s,)], "text string")
    spark_toks = df.select(
        F.split("text", r"[ \t\n\r\f]+").alias("t")
    ).collect()[0]["t"]
    duck_toks = duckdb.execute(
        "SELECT string_split_regex(?, '[ \\t\\n\\r\\f]+')", [s]
    ).fetchone()[0]
    assert spark_toks == duck_toks == ["a\x0bb", "c", "d"]


def test_tokenizer_call_sites_use_engine_independent_boundary(spark):
    """Regression for the two Spark-side \\s+ stragglers (the driver
    queries' token split, now dedup._tokens, and tfidf_vectors' term split):
    a \\x0B-joined pair must stay ONE unit, matching the DuckDB oracles'
    [ \\t\\n\\r\\f]+ class."""
    from entity_resolution_spark.functions.similarity import tfidf_vectors
    from entity_resolution_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "a\x0bb c"), (2, "a\x0bb d")], "doc_id bigint, text string"
    )

    toks = {r["tok"] for r in dedup._tokens(docs, "doc_id", "text").collect()}
    assert "a\x0bb" in toks and "a" not in toks and "b" not in toks

    vecs = tfidf_vectors(docs, id_col="doc_id", text_col="text", num_features=None)
    terms = {r["term_key"] for r in vecs.select("term_key").distinct().collect()}
    assert "a\x0bb" in terms and "a" not in terms and "b" not in terms
