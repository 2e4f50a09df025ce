"""DuckDB oracle SQL for every driver query.

Each entry of :func:`oracle_sql` is an independent ANSI-SQL reference for the
Spark query of the same name in ``entity_resolution_spark.entrypoints``; the
driver and ``scripts/check_oracles.py`` hash-compare the two results.  Every
computed column is aliased identically on both sides.

This module lives outside the package, so it is never zipped to the Python
workers.  CTEs that several oracles share are written once below, cut from
the exact text of the ``prepared_corpus`` oracle: the sha256 of that string
keys the pinned benchmark digest in ``perfbench/oracle_digests.json``, so it
must stay byte-identical.
"""

from __future__ import annotations

from entity_resolution_spark.entrypoints import _PIVOT_LANGS
from entity_resolution_spark.functions.features import HALF_PI

_TITLE_SQL = "split_part(text, ' ', 1)"

# The reference title blocking keys of the lowercased title ``s``.
_BLOCK_KEYS = """unnest([
            substr(s, 1, 1),
            substr(s, 1, 2),
            substr(s, 1, 3),
            substr(s, greatest(length(s) - 2, 1), 3),
            regexp_replace(regexp_replace(s, '[^\\p{L}]', '', 'g'), '[aeiou]', '', 'g')
        ]) AS block_key"""

_BLOCKS_SQL = f"""
    SELECT DISTINCT doc_id AS record_id, block_key FROM (
        SELECT doc_id, {_BLOCK_KEYS}
        FROM (SELECT doc_id, lower({_TITLE_SQL}) AS s FROM documents)
    )
"""

_EDGES_SQL = f"""
    blocks AS ({_BLOCKS_SQL}),
    edges AS (
        SELECT l.record_id AS id1, r.record_id AS id2, count(*) AS weight
        FROM blocks l JOIN blocks r
          ON l.block_key = r.block_key AND l.record_id < r.record_id
        GROUP BY 1, 2
    )
"""

_PRUNED_SQL = f"""{_EDGES_SQL},
    pruned AS (SELECT id1, id2 FROM edges WHERE weight > 1.5)
"""

# ---------------------------------------------------------------------------
# Fragments shared by several oracles.  Those that _prepared_corpus_sql uses
# are cut from its text (indentation included), so that string is unchanged.
# ---------------------------------------------------------------------------

# Stop-word lists of the language and quality heuristics, as SQL IN-lists.
_DE = "('der','die','und','das','ist','nicht','mit','ein','von','zu')"
_EN = "('the','and','of','to','in','is','that','for','with','was')"
_ES = "('el','la','de','que','los','una','con','por','para','es')"
_FR = "('le','la','et','les','des','est','pas','une','dans','que')"

_MINHASH_COLS = ", ".join(
    f"min(('0x' || substr(md5('{i}_' || tok), 1, 15))::bigint) AS h{i}"
    for i in range(8)
)

# Exact-duplicate fingerprint: md5 of the lowercased, whitespace-collapsed text.
_TEXT_FP = "md5(trim(regexp_replace(lower(text), '[ \\t\\n\\r\\f]+', ' ', 'g')))"

# Snapshot winner per group: the latest warc_ts, ties to the lowest doc_id,
# as a max over a fixed-width printf encoding of (epoch, 9999999 - doc_id).
_SNAP_ARGMAX = """max(printf('%015d%07d',
                         epoch(warc_ts)::BIGINT, 9999999 - doc_id))"""
_SNAP_WINNER = f"""9999999 - substr({_SNAP_ARGMAX},
                         16, 7)::BIGINT"""


def _page_sql(p: str) -> str:
    """The synthetic crawled page (mirror of ``_synth_page``) over document
    columns prefixed ``p``."""
    return f"""concat_ws(chr(10),
                  'Cookie notice for ' || {p}source,
                  'Home | About | ' || {p}source,
                  {p}text,
                  CASE WHEN {p}doc_id % 50 = 0
                       THEN 'Subscribe to our newsletter' END,
                  '(c) 2024 ' || {p}source) AS page"""


# pages (doc_id, source, page) → plines → pboiler (lines on >= 5 pages of a
# source) → pflag (doc_id, pos, line, is_boiler).
_BOILER_CTES = """plines AS (
              SELECT doc_id, source AS grp, i - 1 AS pos, l[i] AS line,
                     trim(l[i]) AS norm
              FROM (SELECT doc_id, source,
                           string_split(page, chr(10)) AS l FROM pages),
                   LATERAL (SELECT unnest(range(1, len(l) + 1)) AS i) r
            ),
            pboiler AS (
              SELECT grp, norm FROM plines WHERE norm <> ''
              GROUP BY 1, 2 HAVING count(DISTINCT doc_id) >= 5
            ),
            pflag AS (
              SELECT l.doc_id, l.pos, l.line,
                     (b.norm IS NOT NULL) AS is_boiler
              FROM plines l
              LEFT JOIN pboiler b ON l.grp = b.grp AND l.norm = b.norm
            )"""


def _quality_ctes(src: str) -> str:
    """s → qual (doc_id, quality): the length / punctuation / stop-word
    quality score of ``src.text``."""
    return f"""s AS (
                SELECT doc_id, length(text) AS n,
                       length(regexp_replace(text, '[^[:punct:]]', '', 'g'))::double
                           / greatest(length(text), 1) AS punct_ratio,
                       len(list_filter(string_split_regex(lower(text), '[ \\t\\n\\r\\f]+'),
                           x -> x IN {_EN}))::double
                           / greatest(len(list_filter(string_split_regex(lower(text), '[ \\t\\n\\r\\f]+'),
                                      x -> x <> '')), 1) AS sw_ratio
                FROM {src}
            ),
            qual AS (
                SELECT doc_id,
                       round((least(n / 500.0, 1.0)
                              + (1.0 - least(punct_ratio * 4.0, 1.0))
                              + least(sw_ratio * 5.0, 1.0)) / 3.0, 6)
                         AS quality
                FROM s
            )"""


def _lang_ctes(src: str) -> str:
    """ltoks → lscores → lang_best (doc_id, lang_pred): the language with the
    most stop words in ``src.text`` (ties to the later code), 'und' if none."""
    return f"""ltoks AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '[ \\t\\n\\r\\f]+'),
                                   x -> x <> '') AS t
                FROM {src}
            ),
            lscores AS (
                SELECT doc_id, lang, score FROM (
                    SELECT doc_id, 'de' AS lang,
                           len(list_filter(t, x -> x IN {_DE})) AS score FROM ltoks
                    UNION ALL
                    SELECT doc_id, 'en',
                           len(list_filter(t, x -> x IN {_EN})) FROM ltoks
                    UNION ALL
                    SELECT doc_id, 'es',
                           len(list_filter(t, x -> x IN {_ES})) FROM ltoks
                    UNION ALL
                    SELECT doc_id, 'fr',
                           len(list_filter(t, x -> x IN {_FR})) FROM ltoks
                )
            ),
            lang_best AS (
                SELECT doc_id,
                       CASE WHEN score > 0 THEN lang ELSE 'und' END
                         AS lang_pred
                FROM (SELECT doc_id, lang, score,
                             row_number() OVER (PARTITION BY doc_id
                                                ORDER BY score DESC,
                                                         lang DESC) AS rn
                      FROM lscores)
                WHERE rn = 1
            )"""


def _tok_ctes(src: str) -> str:
    """tok (doc_id, tok): the distinct non-empty whitespace tokens of
    ``src.text`` (``operators.dedup._tokens``); ne_toksz: their count."""
    return f"""tok AS (
                SELECT DISTINCT doc_id, tok FROM (
                    SELECT doc_id,
                           unnest(string_split_regex(text, '[ \\t\\n\\r\\f]+')) AS tok
                    FROM {src}
                ) WHERE tok <> ''
            ),
            ne_toksz AS (SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY 1)"""


_SIG_CTE = f"sig AS (SELECT doc_id, {_MINHASH_COLS} FROM tok GROUP BY doc_id)"

_SIG_SQL = f"WITH {_tok_ctes('documents')},\n            {_SIG_CTE} SELECT * FROM sig"


def _minhash_cands_ctes(src: str) -> str:
    """tok → sig → banded → cands (id1 < id2): MinHash-LSH candidate pairs of
    ``src``, 4 bands of 2 rows."""
    return f"""{_tok_ctes(src)},
            {_SIG_CTE},
            banded AS (
                SELECT doc_id, 0 AS band, h0::varchar || '_' || h1::varchar AS bucket FROM sig
                UNION ALL
                SELECT doc_id, 1, h2::varchar || '_' || h3::varchar FROM sig
                UNION ALL
                SELECT doc_id, 2, h4::varchar || '_' || h5::varchar FROM sig
                UNION ALL
                SELECT doc_id, 3, h6::varchar || '_' || h7::varchar FROM sig
            ),
            cands AS (
                SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
                FROM banded l JOIN banded r
                  ON l.band = r.band AND l.bucket = r.bucket
                 AND l.doc_id < r.doc_id
            )"""


def _closure_ctes(edges: str) -> str:
    """bi → reach → mins (src, mn): recursive transitive closure of the
    undirected ``edges`` (id1, id2); ``mn`` is the least node ``src`` reaches,
    so a doc's component is ``least(doc, coalesce(mn, doc))``."""
    return f"""bi AS (SELECT id1 AS src, id2 AS dst FROM {edges}
                   UNION SELECT id2, id1 FROM {edges}),
            reach(src, dst) AS (
                SELECT src, dst FROM bi
                UNION
                SELECT r.src, e.dst FROM reach r JOIN bi e ON r.dst = e.src
            ),
            mins AS (SELECT src, min(dst) AS mn FROM reach GROUP BY 1)"""


def _keep_list_ctes(src: str, jaccard_threshold: float) -> str:
    """The ``dedup.dedup_keep_list`` chain over ``src`` (doc_id, text) up to
    ``mins``: MinHash-LSH candidates verified by exact token Jaccard, plus
    exact-fingerprint edges, closed transitively.  Needs WITH RECURSIVE."""
    return f"""{_minhash_cands_ctes(src)},
            inter AS (
                SELECT c.id1, c.id2, count(*) AS isect
                FROM cands c
                JOIN tok t1 ON t1.doc_id = c.id1
                JOIN tok t2 ON t2.doc_id = c.id2 AND t1.tok = t2.tok
                GROUP BY 1, 2
            ),
            near AS (
                SELECT i.id1, i.id2
                FROM inter i
                JOIN ne_toksz s1 ON s1.doc_id = i.id1
                JOIN ne_toksz s2 ON s2.doc_id = i.id2
                WHERE i.isect::double / (s1.n_tok + s2.n_tok - i.isect) >= {jaccard_threshold}
            ),
            fp AS (
                SELECT doc_id AS id,
                       {_TEXT_FP}
                         AS fp
                FROM {src}
            ),
            fpmin AS (SELECT fp, min(id) AS keep FROM fp GROUP BY 1),
            exact AS (
                SELECT f.id AS id1, m.keep AS id2
                FROM fp f JOIN fpmin m USING (fp) WHERE f.id <> m.keep
            ),
            alledges AS (SELECT id1, id2 FROM exact
                         UNION SELECT id1, id2 FROM near),
            {_closure_ctes("alledges")}"""


def _mix_keep(p: str) -> str:
    """The stratified training-mix hash threshold over document columns
    prefixed ``p``: keep rates 0.9 / 0.5 / 0.25 / 0 by source number mod 4."""
    t09, t05, t025 = (
        int(0.9 * (1 << 60)),
        int(0.5 * (1 << 60)),
        int(0.25 * (1 << 60)),
    )
    return f"""('0x' || substr(md5('mix-v1:' || {p}doc_id::VARCHAR), 1, 15))
                    ::BIGINT
                  < CASE (regexp_extract({p}source, '(\\d+)', 1)::INT % 4)
                      WHEN 0 THEN {t09}
                      WHEN 1 THEN {t05}
                      WHEN 2 THEN {t025}
                      ELSE 0 END"""


# lst (doc_id, toks): each doc's non-empty whitespace tokens, in order.
_LST_CTE = r"""lst AS (
                SELECT doc_id,
                       list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
                                   t -> t <> '') AS toks
                FROM documents
            )"""

# lst → tok (doc_id, tok, pos): one row per token occurrence, pos from 1.
_POS_TOK_CTES = _LST_CTE + """,
            tok AS (
                SELECT doc_id, unnest(toks) AS tok,
                       unnest(range(1, len(toks) + 1)) AS pos
                FROM lst
            )"""

# tok → bc (doc_id, bg, cnt): per-doc counts of adjacent-token bigrams.
_BIGRAM_CTES = """bg AS (
                SELECT a.doc_id, a.tok || ' ' || b.tok AS bg
                FROM tok a JOIN tok b
                  ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
            ),
            bc AS (SELECT doc_id, bg, count(*) AS cnt FROM bg GROUP BY 1, 2)"""

# lst → pos (doc_id, pos, gram_md5) of every 8-token gram → dup (grams in
# >= 2 docs) → cov (doc_id, pos) of the duplicated grams.
_SPAN_CTES = _LST_CTE + """,
            pos AS (
              SELECT doc_id, i - 1 AS pos,
                     md5(array_to_string(toks[i:i+7], ' ')) AS gram_md5
              FROM lst,
                   LATERAL (SELECT unnest(range(1, len(toks) - 6)) AS i) r
              WHERE len(toks) >= 8
            ),
            dup AS (
              SELECT gram_md5 FROM pos
              GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
            ),
            cov AS (
              SELECT p.doc_id, p.pos FROM pos p JOIN dup USING (gram_md5)
            )"""

# One span per island of covered positions (isl: doc_id, pos, island).
_SPANS_FROM_ISL = """
            SELECT doc_id, min(pos)::BIGINT AS start_tok,
                   (max(pos) + 7)::BIGINT AS end_tok,
                   count(*)::BIGINT AS n_grams
            FROM isl GROUP BY doc_id, island
        """

# d → sh → pre (doc_id, text, n_tokens, shard, h, p): hash-sharded docs with
# the running token count p of the docs before each one in its shard.
_PACK_CTES = r"""d AS (
              SELECT doc_id, text,
                     len(list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
                                     t -> t <> ''))::BIGINT AS n_tokens,
                     ('0x' || substr(md5('pack-v1:' || doc_id::VARCHAR),
                                     1, 15))::BIGINT AS h
              FROM documents
            ),
            sh AS (
              SELECT doc_id, text, n_tokens, (h % 8)::INT AS shard, h FROM d
            ),
            pre AS (
              SELECT doc_id, text, n_tokens, shard, h,
                     coalesce(sum(n_tokens) OVER (
                         PARTITION BY shard ORDER BY h, doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0)::BIGINT AS p
              FROM sh
            )"""


def _cosine(a: str, b: str) -> str:
    """Raw cosine of the ``embedding`` columns of aliases ``a`` and ``b``."""
    return (
        f"list_dot_product({a}.embedding::DOUBLE[], {b}.embedding::DOUBLE[])\n"
        f"                   / (sqrt(list_dot_product({a}.embedding::DOUBLE[], {a}.embedding::DOUBLE[]))\n"
        f"                      * sqrt(list_dot_product({b}.embedding::DOUBLE[], {b}.embedding::DOUBLE[])))"
    )


def _rerank_sql(k: int) -> str:
    """cands (query_id, neighbor_id) → the top ``k`` neighbors per query by
    exact cosine: ranked on the 6dp-rounded value (round-before-rank), output
    as the 4dp-rounded RAW value (double rounding would park values on 4dp
    midpoints where engines disagree)."""
    return f"""sims AS (
            SELECT query_id, neighbor_id, {_cosine('a', 'b')} AS raw
            FROM cands
            JOIN embeddings a ON a.vec_id = query_id
            JOIN embeddings b ON b.vec_id = neighbor_id
        )
        SELECT query_id, neighbor_id, round(raw, 4) AS cosine FROM (
            SELECT query_id, neighbor_id, raw,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY round(raw, 6) DESC, neighbor_id ASC) AS rn
            FROM sims
        ) WHERE rn <= {k}"""


def _ivf_assign_ctes(n_lists: int, dim: int, col: str) -> str:
    """cent (lid, cv) of the fixed ``ann.ivf_fixed_centroids`` (6dp doubles)
    → corpus (vec_id, v) → assigned (vec_id, ``col``): argmin over 6dp-rounded
    expanded L2², as a min over fixed-width printf-encoded (d2, lid) strings,
    so ties go to the lowest lid exactly like ``np.argmin``."""
    from entity_resolution_spark.operators.ann import ivf_fixed_centroids

    cents = ivf_fixed_centroids(n_lists=n_lists, dim=dim)
    rows = ",\n            ".join(
        f"({lid}, [{', '.join(repr(float(x)) for x in cents[lid])}]::DOUBLE[])"
        for lid in range(n_lists)
    )
    return f"""cent(lid, cv) AS (VALUES
            {rows}
        ),
        corpus AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        assigned AS (
            SELECT vec_id,
                   right(min(printf('%013.6f|%02d',
                                    round(list_dot_product(v, v)
                                          - 2*list_dot_product(v, c.cv)
                                          + list_dot_product(c.cv, c.cv), 6),
                                    c.lid)), 2)::INT AS {col}
            FROM corpus JOIN cent c ON true
            GROUP BY 1
        )"""


# e → sp (s, y): 6dp cosine and same-label flag of every pair of the first
# 50 labelled embeddings.
_PAIR_SCORES_CTES = f"""e AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id < 50),
            sp AS (
                SELECT round({_cosine('a', 'b')}, 6) AS s,
                       (a.label = b.label)::int AS y
                FROM e a JOIN e b ON a.vec_id < b.vec_id
            )"""


# Shared CTE chain: synthesize the messy URL from doc_id (mirror of
# _synth_url) and canonicalize it (mirror of functions/urls.canonical_url).
# Yields `canon` with (doc_id, canonical_url).
_URL_CANON_CTES = r"""
            WITH u AS (
              SELECT doc_id,
                (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'http' END)
                || '://'
                || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)
                || 'Site' || (doc_id % 40)::VARCHAR || '.Example.com'
                || (CASE WHEN doc_id % 2 = 0 AND doc_id % 5 = 0
                         THEN ':443' ELSE '' END)
                || '/p//' || (doc_id % 160)::VARCHAR
                || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
                || (CASE WHEN doc_id % 6 = 0 THEN '?utm_source=feed&b=2&a=1'
                         WHEN doc_id % 6 = 3 THEN '?b=2&a=1&gclid=xyz'
                         ELSE '?a=1&b=2' END)
                || (CASE WHEN doc_id % 9 = 0 THEN '#frag' ELSE '' END) AS url
              FROM documents
            ),
            parts AS (
              SELECT doc_id,
                lower(regexp_extract(url,
                    '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                lower(regexp_extract(url,
                    '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
                regexp_extract(url,
                    '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS rawpath,
                regexp_extract(url, '\?([^#]*)', 1) AS rawquery
              FROM u
            ),
            withp AS (
              SELECT doc_id, scheme, hostport, rawpath,
                array_to_string(list_sort(list_filter(
                    string_split(rawquery, '&'),
                    p -> p <> '' AND NOT regexp_matches(p,
                        '^(utm_[A-Za-z0-9_]*|fbclid|gclid|ref)='))),
                    '&') AS params
              FROM parts
            ),
            canon AS (
              SELECT doc_id, scheme || '://'
                || (CASE WHEN (scheme = 'http' AND hostport LIKE '%:443')
                           OR (scheme = 'https' AND hostport LIKE '%:80')
                         THEN regexp_replace(hostport, '^www\.', '')
                         ELSE regexp_replace(
                                regexp_replace(hostport, '^www\.', ''),
                                ':(80|443)$', '') END)
                || regexp_replace(
                     regexp_replace(rawpath, '/{2,}', '/', 'g'), '/+$', '')
                || (CASE WHEN params <> '' THEN '?' || params ELSE '' END)
                   AS canonical_url
              FROM withp
            )
"""

_URL_DEDUP_SQL = _URL_CANON_CTES + r"""
            SELECT canonical_url, count(*)::BIGINT AS n_docs,
                   min(doc_id) AS keep_doc_id
            FROM canon GROUP BY 1 HAVING count(*) >= 2
        """

# canon → snaps (doc_id, canonical_url, warc_ts): one synthetic crawl time
# per doc.
_SNAPS_CTES = _URL_CANON_CTES + r"""
            , snaps AS (
              SELECT doc_id, canonical_url,
                TIMESTAMP '2024-01-01 00:00:00'
                  + to_hours((doc_id % 240) * 7) AS warc_ts
              FROM canon
            )"""

_CRAWL_SNAPSHOT_SQL = _SNAPS_CTES + f"""
            SELECT canonical_url, count(*)::BIGINT AS n_versions,
                   make_timestamp(substr({_SNAP_ARGMAX},
                       1, 15)::BIGINT * 1000000) AS latest_ts,
                   {_SNAP_WINNER} AS keep_doc_id
            FROM snaps GROUP BY 1
        """

_CRAWL_DIFF_SQL = _SNAPS_CTES + f"""
            , old_win AS (
              SELECT canonical_url,
                     {_SNAP_WINNER} AS keep_doc_id
              FROM snaps WHERE doc_id < 320 AND doc_id % 5 <> 0 GROUP BY 1
            ),
            new_win AS (
              SELECT canonical_url,
                     {_SNAP_WINNER} AS keep_doc_id
              FROM snaps
              WHERE doc_id >= 160 AND doc_id < 480 AND doc_id % 4 <> 0
              GROUP BY 1
            ),
            old_side AS (
              SELECT w.canonical_url, md5(d.text) AS old_fp
              FROM old_win w JOIN documents d ON d.doc_id = w.keep_doc_id
            ),
            new_side AS (
              SELECT w.canonical_url, md5(d.text) AS new_fp
              FROM new_win w JOIN documents d ON d.doc_id = w.keep_doc_id
            )
            SELECT coalesce(o.canonical_url, n.canonical_url)
                     AS canonical_url,
                   CASE WHEN o.old_fp IS NULL THEN 'added'
                        WHEN n.new_fp IS NULL THEN 'removed'
                        WHEN o.old_fp <> n.new_fp THEN 'changed'
                        ELSE 'unchanged' END AS status,
                   o.old_fp, n.new_fp
            FROM old_side o
            FULL OUTER JOIN new_side n ON o.canonical_url = n.canonical_url
        """


def _prepared_corpus_sql() -> str:
    """Single-statement DuckDB mirror of q_prepared_corpus: url-canon CTEs →
    printf-argmax compaction → boilerplate CTEs over the compacted pages →
    doc_filter's quality/lang fragments over the CLEANED text → the
    keep-list minhash/LSH/recursive-closure over the cleaned text →
    stratified-mix hash threshold."""
    head = _SNAPS_CTES.replace("WITH u AS (", "WITH RECURSIVE u AS (", 1)
    return head + f""",
            win AS (
              SELECT canonical_url, count(*)::BIGINT AS n_versions,
                     {_SNAP_WINNER} AS doc_id
              FROM snaps GROUP BY 1
            ),
            pages AS (
              SELECT w.canonical_url, w.n_versions, w.doc_id, d.source,
                {_page_sql('d.')}
              FROM win w JOIN documents d ON d.doc_id = w.doc_id
            ),
            {_BOILER_CTES},
            cleaned AS (
              SELECT doc_id,
                     sum(CASE WHEN is_boiler THEN 1 ELSE 0 END)::BIGINT
                       AS n_boiler,
                     coalesce(string_agg(line, chr(10) ORDER BY pos)
                              FILTER (WHERE NOT is_boiler), '') AS text
              FROM pflag GROUP BY 1
            ),
            {_quality_ctes('cleaned')},
            {_lang_ctes('cleaned')},
            filt AS (
                SELECT c.doc_id, c.n_boiler, c.text, q.quality, lb.lang_pred
                FROM cleaned c
                JOIN qual q USING (doc_id)
                JOIN lang_best lb USING (doc_id)
                WHERE q.quality >= 0.3 AND lb.lang_pred IN ('en')
            ),
            {_keep_list_ctes('filt', 0.8)},
            kept AS (
                SELECT f.doc_id FROM filt f
                LEFT JOIN mins m ON f.doc_id = m.src
                WHERE f.doc_id = least(f.doc_id, coalesce(m.mn, f.doc_id))
            )
            SELECT p.doc_id, p.canonical_url, p.n_versions, p.source,
                   f.n_boiler, f.quality, f.lang_pred,
                   md5(f.text) AS text_md5
            FROM kept k
            JOIN filt f ON f.doc_id = k.doc_id
            JOIN pages p ON p.doc_id = k.doc_id
            WHERE {_mix_keep('p.')}
        """


def _hll_sql() -> str:
    """DuckDB mirror of sketches.hll_distinct_estimate over the corpus
    token stream (same md5-prefix hash as KMV; exact integer register
    sums; constants shared with the Spark side by importing them)."""
    from entity_resolution_spark.operators.sketches import (
        _HLL_ALPHA,
        _HLL_M,
        _HLL_W,
    )

    num = _HLL_ALPHA * _HLL_M * _HLL_M * float(1 << 53)
    return f"""
            WITH {_POS_TOK_CTES},
            h AS (
                SELECT ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
                FROM tok
            ),
            r AS (
                SELECT h >> {_HLL_W} AS bucket,
                       CASE WHEN strpos(lpad(bin(
                                h & ((1::BIGINT << {_HLL_W}) - 1)),
                                {_HLL_W}, '0'), '1') = 0
                            THEN {_HLL_W + 1}
                            ELSE strpos(lpad(bin(
                                h & ((1::BIGINT << {_HLL_W}) - 1)),
                                {_HLL_W}, '0'), '1') END AS rho
                FROM h
            ),
            regs AS (SELECT bucket, max(rho) AS m_j FROM r GROUP BY 1),
            agg AS (
                SELECT count(*) AS present,
                       (sum(1::BIGINT << (53 - m_j))::BIGINT
                        + ({_HLL_M} - count(*)) * (1::BIGINT << 53))
                           AS s_scaled,
                       ({_HLL_M} - count(*))::BIGINT AS n_zero
                FROM regs
            )
            SELECT {_HLL_M}::BIGINT AS m,
                   n_zero AS n_zero_registers,
                   s_scaled::BIGINT AS s_scaled,
                   round(CASE WHEN {num!r} / s_scaled <= {2.5 * _HLL_M!r}
                               AND n_zero > 0
                          THEN {float(_HLL_M)!r}
                               * ln({float(_HLL_M)!r} / n_zero)
                          ELSE {num!r} / s_scaled END, 6) AS est_distinct
            FROM agg
        """


def _simhash_sql(max_hamming: int = 8) -> str:
    """Bit-exact SQL replica of ``dedup.simhash_signatures`` +
    ``dedup.simhash_near_pairs``: md5-derived 60-bit token hash (bits 60-63
    of the signature are always 0, so only 60 per-bit sums are needed), the
    same (max_hamming+1)-band pigeonhole bucketing, exact Hamming filter."""
    from entity_resolution_spark.operators.dedup import simhash_bands

    sums = ",\n                   ".join(
        f"sum(case when (h >> {b}) & 1 = 1 then 1 else -1 end) AS s{b}"
        for b in range(60)
    )
    sig = " + ".join(
        f"(case when s{b} > 0 then (1::bigint << {b}) else 0 end)" for b in range(60)
    )
    bands = "\n                UNION ALL\n                ".join(
        f"SELECT doc_id, simhash, {i} AS band,"
        f" (simhash >> {off}) & {(1 << w) - 1} AS bucket FROM sig"
        for i, (off, w) in enumerate(simhash_bands(max_hamming))
    )
    return f"""
        WITH {_tok_ctes('documents')},
        hashes AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::bigint AS h FROM tok),
        sums AS (SELECT doc_id, {sums} FROM hashes GROUP BY doc_id),
        sig AS (SELECT doc_id, ({sig}) AS simhash FROM sums),
        banded AS ({bands})
        SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2,
               bit_count(xor(l.simhash, r.simhash))::bigint AS hamming
        FROM banded l JOIN banded r
          ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
        WHERE bit_count(xor(l.simhash, r.simhash)) <= {max_hamming}
    """


def _keep_list_sql(jaccard_threshold: float = 0.8) -> str:
    """SQL replica of ``dedup.dedup_keep_list``: exact-fingerprint edges +
    Jaccard-verified MinHash-LSH edges + recursive-CTE transitive closure
    (same closure the ``connected_components`` oracle uses)."""
    return f"""
        WITH RECURSIVE {_keep_list_ctes('documents', jaccard_threshold)}
        SELECT d.doc_id,
               least(d.doc_id, coalesce(m.mn, d.doc_id)) AS keep_id,
               (d.doc_id = least(d.doc_id, coalesce(m.mn, d.doc_id))) AS is_kept
        FROM documents d LEFT JOIN mins m ON d.doc_id = m.src
    """



# A..Z soundex codes; '7' marks H/W (skipped without resetting the last code),
# '0' marks vowels (skipped but resetting it) — the exact automaton of Spark's
# built-in soundex (UTF8String.soundex), verified char-for-char in tests.
_SOUNDEX_MAP = "01230127022455012623017202"


def _soundex_sql() -> str:
    """Recursive-CTE replica of Spark's ``soundex`` over trimmed titles.

    Walks the uppercased string one char at a time carrying (sx, sxi, last)
    state; non-letters reset ``last`` to '0'; code '7' (H/W) is skipped with
    ``last`` unchanged; a non-letter *first* char returns the input unchanged
    (Spark's passthrough behavior).  Titles are ASCII, so char-level equals
    Spark's byte-level walk.
    """
    return f"""
        WITH RECURSIVE t AS (
            SELECT doc_id, trim({_TITLE_SQL}) AS s FROM documents
        ),
        up AS (SELECT doc_id, s, upper(s) AS u FROM t),
        walk(doc_id, i, n, sx, sxi, last) AS (
            SELECT doc_id, 2, length(u), substr(u, 1, 1), 1,
                   substr('{_SOUNDEX_MAP}', ascii(substr(u, 1, 1)) - 64, 1)
            FROM up
            WHERE length(u) > 0 AND substr(u, 1, 1) BETWEEN 'A' AND 'Z'
            UNION ALL
            SELECT doc_id, i + 1, n,
                   CASE WHEN code IS NOT NULL AND code NOT IN ('7', '0')
                             AND code <> last
                        THEN sx || code ELSE sx END,
                   CASE WHEN code IS NOT NULL AND code NOT IN ('7', '0')
                             AND code <> last
                        THEN sxi + 1 ELSE sxi END,
                   CASE WHEN code IS NULL THEN '0'
                        WHEN code = '7' THEN last
                        ELSE code END
            FROM (
                SELECT w.doc_id, w.i, w.n, w.sx, w.sxi, w.last,
                       CASE WHEN substr(u.u, w.i, 1) BETWEEN 'A' AND 'Z'
                            THEN substr('{_SOUNDEX_MAP}',
                                        ascii(substr(u.u, w.i, 1)) - 64, 1)
                            END AS code
                FROM walk w JOIN up u USING (doc_id)
                WHERE w.i <= w.n AND w.sxi < 4
            )
        ),
        finals AS (
            SELECT doc_id, rpad(sx, 4, '0') AS soundex,
                   row_number() OVER (PARTITION BY doc_id ORDER BY i DESC) AS rn
            FROM walk
        )
        SELECT doc_id, soundex FROM finals WHERE rn = 1
        UNION ALL
        SELECT doc_id, s AS soundex FROM up
        WHERE length(u) = 0 OR NOT substr(u, 1, 1) BETWEEN 'A' AND 'Z'
    """


def _mp_in(x: str, chars: str) -> str:
    """SQL for the Python idiom ``x in "<chars>"`` — which is *substring*
    containment, so the empty string (past-end sentinel) matches ANY charset.
    The reference-faithful quirk: a trailing W/Y is kept, a final "TI" → X,
    a final G → J, etc., because ``'' in "AEIOU"`` is True in Python."""
    lst = ",".join(f"'{c}'" for c in chars)
    return f"({x} = '' OR {x} IN ({lst}))"


_MP_VOWELS = "AEIOU"

_MP_EMIT = f"""CASE
    WHEN i > 1 AND c = prev AND c <> 'C' THEN ''
    WHEN c IN ('A','E','I','O','U') THEN CASE WHEN i = 1 THEN c ELSE '' END
    WHEN c = 'B' THEN CASE WHEN i = n AND i > 1 AND prev = 'M' THEN '' ELSE 'B' END
    WHEN c = 'C' THEN CASE WHEN nxt = 'I' AND nxt2 = 'A' THEN 'X'
                           WHEN nxt = 'H' THEN
                               CASE WHEN i > 1 AND prev = 'S' THEN 'K' ELSE 'X' END
                           WHEN {_mp_in('nxt', 'IEY')} THEN 'S'
                           ELSE 'K' END
    WHEN c = 'D' THEN CASE WHEN nxt = 'G' AND {_mp_in('nxt2', 'EIY')} THEN 'J' ELSE 'T' END
    WHEN c = 'G' THEN CASE WHEN nxt = 'H' THEN
                               CASE WHEN i + 2 > n OR nxt2 IN ('A','E','I','O','U')
                                    THEN 'K' ELSE '' END
                           WHEN nxt = 'N' THEN ''
                           WHEN {_mp_in('nxt', 'IEY')} THEN 'J'
                           ELSE 'K' END
    WHEN c = 'H' THEN CASE WHEN i > 1 AND prev IN ('A','E','I','O','U')
                                AND NOT {_mp_in('nxt', _MP_VOWELS)} THEN ''
                           WHEN i > 1 AND prev IN ('C','S','P','T','G') THEN ''
                           ELSE 'H' END
    WHEN c IN ('F','J','L','M','N','R') THEN c
    WHEN c = 'K' THEN CASE WHEN i > 1 AND prev = 'C' THEN '' ELSE 'K' END
    WHEN c = 'P' THEN CASE WHEN nxt = 'H' THEN 'F' ELSE 'P' END
    WHEN c = 'Q' THEN 'K'
    WHEN c = 'S' THEN CASE WHEN nxt = 'H' THEN 'X'
                           WHEN nxt = 'I' AND {_mp_in('nxt2', 'OA')} THEN 'X'
                           ELSE 'S' END
    WHEN c = 'T' THEN CASE WHEN nxt = 'H' THEN '0'
                           WHEN nxt = 'I' AND {_mp_in('nxt2', 'OA')} THEN 'X'
                           ELSE 'T' END
    WHEN c = 'V' THEN 'F'
    WHEN c = 'W' THEN CASE WHEN {_mp_in('nxt', _MP_VOWELS)} THEN 'W' ELSE '' END
    WHEN c = 'X' THEN 'KS'
    WHEN c = 'Y' THEN CASE WHEN {_mp_in('nxt', _MP_VOWELS)} THEN 'Y' ELSE '' END
    WHEN c = 'Z' THEN 'S'
    ELSE '' END"""

_MP_ADV = f"""CASE
    WHEN i > 1 AND c = prev AND c <> 'C' THEN 1
    WHEN c = 'D' AND nxt = 'G' AND {_mp_in('nxt2', 'EIY')} THEN 2
    WHEN c = 'G' AND nxt = 'H' THEN 2
    ELSE 1 END"""


def _metaphone_sql() -> str:
    """Recursive-CTE replica of the classic Metaphone automaton
    (``functions.blocking_keys._metaphone_one``): same initial-letter
    exceptions, then a char walk where D(GE/GI/GY) and GH consume two chars.
    SQL position ``i`` is 1-based (Python ``i`` + 1), so Python's
    ``i + 2 >= n`` becomes ``i + 2 > n``.
    """
    return f"""
        WITH RECURSIVE m0 AS (
            SELECT doc_id,
                   regexp_replace(upper(trim({_TITLE_SQL})), '[^A-Z]', '', 'g') AS w0
            FROM documents
        ),
        m1 AS (
            SELECT doc_id,
                   CASE WHEN substr(w0, 1, 2) IN ('AE','GN','KN','PN','WR')
                             THEN substr(w0, 2)
                        WHEN substr(w0, 1, 1) = 'X' THEN 'S' || substr(w0, 2)
                        WHEN substr(w0, 1, 2) = 'WH' THEN 'W' || substr(w0, 3)
                        ELSE w0 END AS w
            FROM m0
        ),
        walk(doc_id, i, n, out) AS (
            SELECT doc_id, 1, length(w), '' FROM m1 WHERE length(w) >= 1
            UNION ALL
            SELECT doc_id, i + ({_MP_ADV}), n, out || ({_MP_EMIT})
            FROM (
                SELECT w.doc_id, w.i, w.n, w.out,
                       substr(m.w, w.i, 1) AS c,
                       CASE WHEN w.i > 1 THEN substr(m.w, w.i - 1, 1) ELSE '' END AS prev,
                       substr(m.w, w.i + 1, 1) AS nxt,
                       substr(m.w, w.i + 2, 1) AS nxt2
                FROM walk w JOIN m1 m USING (doc_id)
                WHERE w.i <= w.n
            )
        ),
        finals AS (
            SELECT doc_id, out,
                   row_number() OVER (PARTITION BY doc_id ORDER BY i DESC) AS rn
            FROM walk
        )
        SELECT d.doc_id, coalesce(f.out, '') AS metaphone
        FROM documents d
        LEFT JOIN (SELECT doc_id, out FROM finals WHERE rn = 1) f USING (doc_id)
    """


def _winnow_sql(k: int = 5, window: int = 4) -> str:
    """SQL replica of ``dedup.winnow_fingerprints`` — same md5 gram hash,
    same string-encoded (hash, rightmost-pos) window minimum."""
    return f"""
        WITH g AS (
            SELECT doc_id, text, greatest(length(text) - {k - 1}, 0) AS n_grams
            FROM documents
        ),
        grams AS (
            SELECT doc_id, n_grams, text,
                   unnest(generate_series(1, n_grams)) AS pos
            FROM g WHERE n_grams >= 1
        ),
        hashed AS (
            SELECT doc_id, n_grams, pos,
                   ('0x' || substr(md5(substr(text, pos, {k})), 1, 15))::bigint AS h
            FROM grams
        ),
        enc AS (
            SELECT doc_id, n_grams, pos,
                   min(printf('%020d', h) || printf('%010d', 1000000000 - pos))
                     OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN CURRENT ROW AND {window - 1} FOLLOWING) AS sel
            FROM hashed
        )
        SELECT DISTINCT doc_id,
               1000000000 - substr(sel, 21, 10)::bigint AS fp_pos,
               substr(sel, 1, 20)::bigint AS fp_hash
        FROM enc
        WHERE pos <= greatest(n_grams - {window - 1}, 1)
    """


def _srp_banded_sql(
    n_planes: int, n_tables: int, dim: int, seed: int
) -> tuple[str, str]:
    """Shared SRP signature/banding SQL used by both ANN oracles: (sig_cols
    select list, band_union over a CTE named ``sigs``).  One construction
    point so the two oracles can never diverge from each other or from
    ``ann._srp_signature``."""
    from entity_resolution_spark.operators.ann import srp_plane_weight

    table_exprs = []
    for t in range(n_tables):
        bits = []
        for p in range(n_planes):
            plane = ", ".join(
                repr(srp_plane_weight(seed, t, p, i)) for i in range(dim)
            )
            bits.append(
                f"(case when list_dot_product(embedding::DOUBLE[], [{plane}]) >= 0"
                f" then {1 << (n_planes - 1 - p)} else 0 end)"
            )
        table_exprs.append("(" + " + ".join(bits) + f") AS b{t}")
    sig_cols = ",\n               ".join(table_exprs)
    band_union = "\n            UNION ALL\n            ".join(
        f"SELECT vec_id, {t} AS tbl, b{t} AS bucket FROM sigs" for t in range(n_tables)
    )
    return sig_cols, band_union


def _embedding_near_dups_sql(
    threshold: float = 0.9, n_planes: int = 8, n_tables: int = 4,
    dim: int = 64, seed: int = 42,
) -> str:
    """SQL replica of ``dedup.embedding_near_dup_pairs`` (same literal SRP
    hyperplanes as the ANN oracle, bucket self-join, exact cosine filter)."""
    sig_cols, band_union = _srp_banded_sql(n_planes, n_tables, dim, seed)
    return f"""
        WITH sigs AS (SELECT vec_id, {sig_cols} FROM embeddings),
        banded AS ({band_union}),
        cands AS (
            SELECT DISTINCT l.vec_id AS id1, r.vec_id AS id2
            FROM banded l JOIN banded r
              ON l.tbl = r.tbl AND l.bucket = r.bucket AND l.vec_id < r.vec_id
        ),
        scored AS (
            SELECT id1, id2, {_cosine('a', 'b')} AS raw
            FROM cands
            JOIN embeddings a ON a.vec_id = id1
            JOIN embeddings b ON b.vec_id = id2
        )
        -- output rounds the RAW cosine: double-rounding (raw -> 6dp -> 4dp)
        -- parks ~1% of values on 4dp midpoints where engines disagree
        SELECT id1, id2, round(raw, 4) AS cosine
        FROM scored WHERE round(raw, 6) >= {threshold}
    """


def _ann_lsh_sql(
    k: int = 5, n_planes: int = 8, n_tables: int = 4, dim: int = 64, seed: int = 42
) -> str:
    """SQL replica of ``ann.lsh_topk``: the md5-derived hyperplane weights are
    data-independent constants, so the same Python helper that builds the
    Spark literals (``ann.srp_plane_weight``) emits them here as SQL list
    literals — bucket assignment is the same arithmetic in both engines."""
    sig_cols, band_union = _srp_banded_sql(n_planes, n_tables, dim, seed)
    return f"""
        WITH sigs AS (SELECT vec_id, {sig_cols} FROM embeddings),
        banded AS ({band_union}),
        q AS (SELECT * FROM banded WHERE vec_id < 10),
        cands AS (
            SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
            FROM q JOIN banded c
              ON q.tbl = c.tbl AND q.bucket = c.bucket AND q.vec_id <> c.vec_id
        ),
        {_rerank_sql(k)}
    """


def _ann_pq_sql(
    k: int = 5, m: int = 4, ksub: int = 16, dim: int = 64, rerank: int = 20
) -> str:
    """SQL replica of ``q_ann_pq_topk`` (``ann.pq_topk`` in parity mode).

    The fixed codebooks (``ann.pq_fixed_codebooks``, 6dp doubles) are
    inlined as a VALUES table; encoding is argmin over 6dp-rounded expanded
    L2² per subspace (argmin via min over fixed-width printf-encoded
    (d2, c) strings — lexicographic == numeric for the fixed width, and the
    string tie-break picks the lowest code exactly like ``np.argmin``);
    ADC distance is the 6dp-rounded sum of 6dp LUT entries; the rerank cut
    orders (adist, neighbor_id); the exact-cosine rerank is the same
    round-before-rank/4dp-raw-output recipe as the other ANN oracles."""
    from entity_resolution_spark.operators.ann import pq_fixed_codebooks

    dsub = dim // m
    books = pq_fixed_codebooks(m=m, ksub=ksub, dsub=dsub)
    rows = ",\n            ".join(
        f"({j}, {c}, [{', '.join(repr(float(x)) for x in books[j][c])}]::DOUBLE[])"
        for j in range(m)
        for c in range(ksub)
    )
    return f"""
        WITH book(j, c, cv) AS (VALUES
            {rows}
        ),
        corpus AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        subv AS (
            SELECT vec_id, j, list_slice(v, j*{dsub}+1, (j+1)*{dsub}) AS sv
            FROM corpus, (SELECT unnest(range({m})) AS j)
        ),
        codes AS (
            SELECT vec_id, s.j,
                   right(min(printf('%013.6f|%02d',
                                    round(list_dot_product(sv, sv)
                                          - 2*list_dot_product(sv, b.cv)
                                          + list_dot_product(b.cv, b.cv), 6),
                                    b.c)), 2)::INT AS code
            FROM subv s JOIN book b ON b.j = s.j
            GROUP BY 1, 2
        ),
        luts AS (
            SELECT q.vec_id AS query_id, b.j, b.c,
                   round(-2*list_dot_product(
                             list_slice(q.v, b.j*{dsub}+1, (b.j+1)*{dsub}), b.cv)
                         + list_dot_product(b.cv, b.cv), 6) AS lut
            FROM (SELECT * FROM corpus WHERE vec_id < 10) q JOIN book b ON true
        ),
        adist AS (
            SELECT l.query_id, c.vec_id AS neighbor_id,
                   round(sum(l.lut), 6) AS adist
            FROM codes c JOIN luts l ON l.j = c.j AND l.c = c.code
            WHERE l.query_id <> c.vec_id
            GROUP BY 1, 2
        ),
        cands AS (
            SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY adist ASC, neighbor_id ASC) AS arn
                FROM adist
            ) WHERE arn <= {rerank}
        ),
        {_rerank_sql(k)}
    """


def _ann_ivf_sql(
    k: int = 5, n_lists: int = 8, n_probe: int = 3, dim: int = 64
) -> str:
    """SQL replica of ``q_ann_ivf_topk`` (``ann.ivf_topk`` in parity mode):
    the shared centroid assignment, a query probe cut ranked on (6dp d2,
    lid), candidates only from the probed lists, then the shared exact-cosine
    rerank."""
    return f"""
        WITH {_ivf_assign_ctes(n_lists, dim, 'lid')},
        probes AS (
            SELECT vec_id AS query_id, lid FROM (
                SELECT q.vec_id, c.lid,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY round(list_dot_product(q.v, q.v)
                                          - 2*list_dot_product(q.v, c.cv)
                                          + list_dot_product(c.cv, c.cv), 6) ASC,
                                    c.lid ASC) AS pr
                FROM (SELECT * FROM corpus WHERE vec_id < 10) q
                JOIN cent c ON true
            ) WHERE pr <= {n_probe}
        ),
        cands AS (
            SELECT p.query_id, a.vec_id AS neighbor_id
            FROM probes p JOIN assigned a ON a.lid = p.lid
            WHERE p.query_id <> a.vec_id
        ),
        {_rerank_sql(k)}
    """


def _semantic_dedup_sql(
    threshold: float = 0.35, n_clusters: int = 16, dim: int = 64
) -> str:
    """SQL replica of ``q_semantic_dedup`` (``dedup.semantic_dedup``): the
    shared centroid assignment; the screening order and the drop threshold
    both use 6dp-rounded cosines (round-before-rank / round-before-threshold);
    the output centroid similarity rounds the RAW value to 4dp."""
    return f"""
        WITH {_ivf_assign_ctes(n_clusters, dim, 'cluster_id')},
        ranked AS (
            SELECT a.vec_id, a.cluster_id, raw, round(raw, 6) AS sim6
            FROM (
                SELECT a.vec_id, a.cluster_id,
                       list_dot_product(e.v, c.cv)
                       / (sqrt(list_dot_product(e.v, e.v))
                          * sqrt(list_dot_product(c.cv, c.cv))) AS raw
                FROM assigned a
                JOIN corpus e ON e.vec_id = a.vec_id
                JOIN cent c ON c.lid = a.cluster_id
            ) a
        ),
        dropped AS (
            SELECT DISTINCT r.vec_id
            FROM ranked l
            JOIN ranked r ON l.cluster_id = r.cluster_id
             AND (l.sim6 > r.sim6 OR (l.sim6 = r.sim6 AND l.vec_id < r.vec_id))
            JOIN corpus a ON a.vec_id = l.vec_id
            JOIN corpus b ON b.vec_id = r.vec_id
            WHERE round(list_dot_product(a.v, b.v)
                        / (sqrt(list_dot_product(a.v, a.v))
                           * sqrt(list_dot_product(b.v, b.v))), 6) >= {threshold}
        )
        SELECT s.vec_id, s.cluster_id, round(s.raw, 4) AS centroid_sim,
               d.vec_id IS NULL AS keep
        FROM ranked s LEFT JOIN dropped d ON d.vec_id = s.vec_id
    """


def _pii_sql() -> str:
    """SQL replica of ``q_pii_scan``: the marker-planting CASE chain mirrors
    the Spark ``when`` chain, and the regex literals are the very constants
    ``operators.webtext`` uses (patterns chosen to parse identically under
    Java regex and RE2 — see ``PII_EMAIL`` et al.)."""
    from entity_resolution_spark.operators.webtext import PII_EMAIL, PII_IPV4, PII_PHONE

    return f"""
        WITH aug AS (
            SELECT doc_id, text
              || CASE WHEN doc_id % 7 = 0
                      THEN ' contact user' || doc_id::VARCHAR || '@example.com'
                      ELSE '' END
              || CASE WHEN doc_id % 11 = 0
                      THEN ' host 10.0.' || (doc_id % 256)::VARCHAR || '.'
                           || (doc_id % 100)::VARCHAR
                      ELSE '' END
              || CASE WHEN doc_id % 13 = 0
                      THEN ' call 555-867-5309' ELSE '' END AS text
            FROM documents
        )
        SELECT doc_id,
               len(regexp_extract_all(text, '{PII_EMAIL}'))::BIGINT AS n_emails,
               len(regexp_extract_all(text, '{PII_IPV4}'))::BIGINT AS n_ipv4,
               len(regexp_extract_all(text, '{PII_PHONE}'))::BIGINT AS n_phones,
               md5(regexp_replace(regexp_replace(regexp_replace(text,
                   '{PII_EMAIL}', '<EMAIL>', 'g'),
                   '{PII_IPV4}', '<IP>', 'g'),
                   '{PII_PHONE}', '<PHONE>', 'g')) AS redacted_md5
        FROM aug
    """


# Recursive-CTE transitive closure of the pruned edges → cc_assign
# (record_id, component_id); needs WITH RECURSIVE.
_CC_ASSIGN_SQL = f"""
    {_PRUNED_SQL},
    {_closure_ctes("pruned")},
    cc_assign AS (
        SELECT d.doc_id AS record_id,
               least(d.doc_id, coalesce(m.mn, d.doc_id)) AS component_id
        FROM documents d LEFT JOIN mins m ON d.doc_id = m.src
    )
"""


def _klsh_lloyd_sql(k: int = 4, iters: int = 5) -> str:
    """SQL replica of ``q_klsh_lloyd``: CC closure → per-component z-score +
    quarter-circle features (6dp) → hash-seeded centroids → ``iters``
    unrolled Lloyd rounds.  The nearest-centroid argmin is a string-encoded
    ``min(printf(dist6) || printf(cid))`` (same fixed-width trick as the
    winnowing oracle) — ties at equal 6dp distance break on the lowest cid,
    exactly like the Spark ``min(struct(dist6, cid))``."""
    hp = repr(HALF_PI)
    dist = ("round((f1-c1)*(f1-c1) + (f2-c2)*(f2-c2) + (f3-c3)*(f3-c3), 6)")
    argmin = (
        f"substr(min(printf('%020.6f', {dist}) || printf('%05d', cid)), 21, 5)::int"
    )
    steps = []
    for t in range(1, iters + 1):
        steps.append(f"""
        asg{t} AS (
            SELECT component_id, record_id, f1, f2, f3, {argmin} AS cid
            FROM pts JOIN cent{t - 1} USING (component_id)
            GROUP BY 1, 2, 3, 4, 5
        ),
        cent{t} AS (
            SELECT component_id, cid,
                   round(avg(f1), 6) AS c1,
                   round(avg(f2), 6) AS c2,
                   round(avg(f3), 6) AS c3
            FROM asg{t} GROUP BY 1, 2
        )""")
    return f"""
        WITH RECURSIVE {_CC_ASSIGN_SQL},
        recs AS (
            SELECT a.component_id, a.record_id, d.n_chars
            FROM cc_assign a JOIN documents d ON d.doc_id = a.record_id
        ),
        stats AS (
            SELECT component_id, avg(n_chars) AS mu,
                   avg(n_chars::bigint * n_chars) AS musq
            FROM recs GROUP BY 1
        ),
        pts AS (
            SELECT r.component_id, r.record_id,
                   round(CASE WHEN (musq - mu * mu) > 0
                              THEN (n_chars - mu) / sqrt(musq - mu * mu)
                              ELSE 0.0 END, 6) AS f1,
                   round(cos((n_chars % 10) / 9.0 * {hp}), 6) AS f2,
                   round(sin((n_chars % 10) / 9.0 * {hp}), 6) AS f3
            FROM recs r JOIN stats USING (component_id)
        ),
        seeds AS (
            SELECT component_id, record_id, f1, f2, f3,
                   row_number() OVER (PARTITION BY component_id
                                      ORDER BY md5(record_id::varchar), record_id) AS cid
            FROM pts
        ),
        cent0 AS (
            SELECT component_id, cid, f1 AS c1, f2 AS c2, f3 AS c3
            FROM seeds WHERE cid <= {k}
        ),
        {",".join(steps)},
        final AS (
            SELECT component_id, record_id, {argmin} AS cid
            FROM pts JOIN cent{iters} USING (component_id)
            GROUP BY 1, 2, f1, f2, f3
        )
        SELECT component_id, record_id, cid::bigint AS cluster_id FROM final
    """


def _encoder_forward_sql() -> str:
    """SQL replica of ``q_encoder_forward``: the reduced encoder's weights
    (data-independent constants from ``ml.encoder.reduced_init_weights``)
    are inlined as literals via ``repr`` — the same shared-literal technique
    as the SRP hyperplane oracles — and each layer is an unrolled
    multiply-add chain with ``greatest(x, 0.0)`` ReLU."""
    from entity_resolution_spark.ml.encoder import TOWERS, reduced_init_weights

    w = reduced_init_weights()
    hp = repr(HALF_PI)

    def lin(in_names: list[str], W, b, relu: bool, prefix: str) -> tuple[str, list[str]]:
        exprs, names = [], []
        for j in range(W.shape[1]):
            terms = " + ".join(
                f"{x} * {float(W[i, j])!r}" for i, x in enumerate(in_names)
            )
            e = f"({terms} + {float(b[j])!r})"
            if relu:
                e = f"greatest({e}, 0.0)"
            exprs.append(f"{e} AS {prefix}{j}")
            names.append(f"{prefix}{j}")
        return ",\n                   ".join(exprs), names

    x = [f"x{i}" for i in range(8)]
    towers_in = {"quality": x[0:2], "resonance": x[2:3],
                 "tension": x[3:6], "longevity": x[6:8]}
    l1_exprs, l1_names, l2_exprs, l2_names = [], {}, [], []
    for name in TOWERS:
        e, n = lin(towers_in[name], w[f"{name}_w1"], w[f"{name}_b1"], True, f"{name}_a")
        l1_exprs.append(e)
        l1_names[name] = n
    for name in TOWERS:
        e, n = lin(l1_names[name], w[f"{name}_w2"], w[f"{name}_b2"], True, f"{name}_b")
        l2_exprs.append(e)
        l2_names.extend(n)
    h_exprs, h_names = lin(l2_names, w["head_w1"], w["head_b1"], True, "h")
    e_exprs, e_names = lin(h_names, w["head_w2"], w["head_b2"], False, "e")
    nm = " + ".join(f"{e} * {e}" for e in e_names)
    outs = ", ".join(f"round({e} / nm, 4) AS e{j}" for j, e in enumerate(e_names))
    return f"""
        WITH f AS (
            SELECT doc_id,
                   round(cos((n_chars % 10) / 9.0 * {hp}), 6) AS x0,
                   round(sin((n_chars % 10) / 9.0 * {hp}), 6) AS x1,
                   round(n_chars / 500.0, 6) AS x2,
                   round((doc_id % 7) / 7.0, 6) AS x3,
                   CASE WHEN n_chars % 2 = 0 THEN 1.0 ELSE 0.0 END AS x4,
                   CASE WHEN n_chars % 2 = 0 THEN 0.0 ELSE 1.0 END AS x5,
                   round(cos((doc_id % 12) / 11.0 * {hp}), 6) AS x6,
                   round(sin((doc_id % 12) / 11.0 * {hp}), 6) AS x7
            FROM documents
        ),
        l1 AS (SELECT doc_id, {",".join(l1_exprs)} FROM f),
        l2 AS (SELECT doc_id, {",".join(l2_exprs)} FROM l1),
        hh AS (SELECT doc_id, {h_exprs} FROM l2),
        ee AS (SELECT doc_id, {e_exprs} FROM hh),
        nn AS (
            SELECT doc_id, {", ".join(e_names)},
                   CASE WHEN sqrt({nm}) = 0 THEN 1.0 ELSE sqrt({nm}) END AS nm
            FROM ee
        )
        SELECT doc_id, {outs} FROM nn
    """


# TF-IDF cosine of the pruned pairs (tfidf_cosine; score_histogram bins it).
_TFIDF_COSINE_SQL = f"""
    WITH {_PRUNED_SQL},
    terms AS (
        SELECT doc_id AS id, unnest(string_split_regex(lower(text), '[ \\t\\n\\r\\f]+')) AS term
        FROM documents
    ),
    tf AS (SELECT id, term AS term_key, count(*) AS tf
           FROM terms WHERE term <> '' GROUP BY 1, 2),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
    idf AS (SELECT term_key,
                   ln((1.0 + (SELECT n_docs FROM n)) / (1.0 + count(DISTINCT id))) + 1.0 AS idf
            FROM tf GROUP BY 1),
    wts AS (SELECT tf.id, tf.term_key, tf.tf * idf.idf AS w
            FROM tf JOIN idf USING (term_key)),
    nrm AS (SELECT id, sqrt(sum(w * w)) AS nm FROM wts GROUP BY 1),
    vec AS (SELECT wts.id, term_key, w / nm AS w FROM wts JOIN nrm USING (id)),
    dots AS (
        SELECT p.id1, p.id2, sum(v1.w * v2.w) AS dot
        FROM pruned p
        JOIN vec v1 ON v1.id = p.id1
        JOIN vec v2 ON v2.id = p.id2 AND v1.term_key = v2.term_key
        GROUP BY 1, 2
    )
    SELECT p.id1, p.id2, round(coalesce(d.dot, 0.0), 6) AS tfidf_cosine
    FROM pruned p LEFT JOIN dots d ON d.id1 = p.id1 AND d.id2 = p.id2
"""


def oracle_sql() -> dict[str, str]:
    return {
        "blocking_keys": _BLOCKS_SQL,
        "block_sizes": f"WITH blocks AS ({_BLOCKS_SQL}) "
        "SELECT block_key, count(*) AS block_size FROM blocks GROUP BY 1",
        "candidate_pairs": f"WITH blocks AS ({_BLOCKS_SQL}) "
        "SELECT DISTINCT l.record_id AS id1, r.record_id AS id2 "
        "FROM blocks l JOIN blocks r ON l.block_key = r.block_key "
        "AND l.record_id < r.record_id",
        "edge_weights": f"WITH {_EDGES_SQL} SELECT id1, id2, weight FROM edges",
        "edge_provenance": f"""
            WITH blocks AS ({_BLOCKS_SQL})
            SELECT l.record_id AS id1, r.record_id AS id2,
                   string_agg(l.block_key, ',' ORDER BY l.block_key) AS provenance
            FROM blocks l JOIN blocks r
              ON l.block_key = r.block_key AND l.record_id < r.record_id
            GROUP BY 1, 2
        """,
        "pruned_edges": f"WITH {_EDGES_SQL} "
        "SELECT id1, id2, weight FROM edges WHERE weight > 1.5",
        "connected_components": f"""
            WITH RECURSIVE {_CC_ASSIGN_SQL}
            SELECT record_id, component_id FROM cc_assign
        """,
        "component_sizes": f"""
            WITH RECURSIVE {_CC_ASSIGN_SQL}
            SELECT component_id, count(*) AS n_records FROM cc_assign GROUP BY 1
        """,
        "exact_dedup": f"""
            SELECT {_TEXT_FP} AS fp,
                   count(*) AS dup_count, min(doc_id) AS keep_doc_id
            FROM documents GROUP BY 1
        """,
        "token_jaccard": f"""
            WITH {_PRUNED_SQL},
            {_tok_ctes('documents')},
            inter AS (
                SELECT p.id1, p.id2, count(*) AS isect
                FROM pruned p
                JOIN tok t1 ON t1.doc_id = p.id1
                JOIN tok t2 ON t2.doc_id = p.id2 AND t1.tok = t2.tok
                GROUP BY 1, 2
            )
            SELECT p.id1, p.id2,
                   round(coalesce(i.isect, 0)::double
                         / (s1.n_tok + s2.n_tok - coalesce(i.isect, 0)), 6) AS jaccard
            FROM pruned p
            LEFT JOIN inter i ON i.id1 = p.id1 AND i.id2 = p.id2
            JOIN ne_toksz s1 ON s1.doc_id = p.id1
            JOIN ne_toksz s2 ON s2.doc_id = p.id2
        """,
        "minhash_signatures": _SIG_SQL,
        "minhash_band_candidates": f"""
            WITH {_minhash_cands_ctes('documents')}
            SELECT id1, id2 FROM cands
        """,
        "text_stats": f"""
            WITH tok AS (
                SELECT doc_id, string_split_regex(text, '[ \\t\\n\\r\\f]+') AS toks FROM documents
            ),
            {_quality_ctes('documents')}
            SELECT d.doc_id,
                   len(list_filter(t.toks, x -> x <> '')) AS n_tokens,
                   len(list_distinct(list_filter(t.toks, x -> x <> ''))) AS n_distinct,
                   length(d.text) AS n_len,
                   round(s.sw_ratio, 6) AS stopword_ratio
            FROM documents d JOIN tok t ON d.doc_id = t.doc_id
            JOIN s ON s.doc_id = d.doc_id
        """,
        "top_tokens": """
            SELECT token, count(*)::bigint AS n
            FROM (
                SELECT unnest(string_split_regex(text, '[ \\t\\n\\r\\f]+')) AS token
                FROM documents
            )
            WHERE token <> ''
            GROUP BY token
            ORDER BY n DESC, token ASC
            LIMIT 50
        """,
        "topk_per_group": """
            SELECT lang, doc_id, n_chars, rn FROM (
                SELECT lang, doc_id, n_chars,
                       row_number() OVER (PARTITION BY lang
                                          ORDER BY n_chars DESC, doc_id ASC) AS rn
                FROM documents
            ) WHERE rn <= 3
        """,
        "date_keys": """
            SELECT event_id, date_key FROM (
                SELECT event_id, unnest([
                    'my_' || strftime(ts, '%m') || '_' || year(ts)::varchar
                          || '_dy_' || strftime(ts, '%d') || '_' || year(ts)::varchar,
                    'my_' || strftime(ts, '%m') || '_' || year(ts)::varchar
                          || '_dm_' || strftime(ts, '%d') || '_' || strftime(ts, '%m'),
                    'my_' || strftime(ts, '%d') || '_' || year(ts)::varchar
                          || '_dm_' || strftime(ts, '%d') || '_' || strftime(ts, '%m')
                ]) AS date_key
                FROM events
            )
            UNION ALL
            SELECT event_id,
                   (date_diff('day', DATE '1970-01-01', ts::date) // 7)::varchar AS date_key
            FROM events
        """,
        "windowed_event_counts": """
            SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
                   event_type, count(*) AS n_events,
                   round(sum(value), 4) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "embedding_topk": f"""
            WITH cands AS (
                SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id
                FROM embeddings q JOIN embeddings e ON q.vec_id <> e.vec_id
                WHERE q.vec_id < 10
            ),
            {_rerank_sql(5)}
        """,
        "levenshtein_pairs": f"""
            WITH {_PRUNED_SQL},
            t AS (SELECT doc_id, {_TITLE_SQL} AS title FROM documents)
            SELECT p.id1, p.id2, levenshtein(t1.title, t2.title) AS lev
            FROM pruned p JOIN t t1 ON t1.doc_id = p.id1
                          JOIN t t2 ON t2.doc_id = p.id2
        """,
        "ngram_jaccard": f"""
            WITH {_PRUNED_SQL},
            sh AS (
                SELECT DISTINCT doc_id AS id, substr(text, i, 3) AS shingle
                FROM (
                    SELECT doc_id, text,
                           unnest(generate_series(1, greatest(length(text) - 2, 1))) AS i
                    FROM documents
                )
                WHERE length(substr(text, i, 3)) > 0
            ),
            sz AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY 1),
            inter AS (
                SELECT p.id1, p.id2, count(*) AS isect
                FROM pruned p
                JOIN sh s1 ON s1.id = p.id1
                JOIN sh s2 ON s2.id = p.id2 AND s1.shingle = s2.shingle
                GROUP BY 1, 2
            )
            SELECT p.id1, p.id2,
                   round(coalesce(i.isect, 0)::double
                         / (z1.n_sh + z2.n_sh - coalesce(i.isect, 0)), 6) AS ngram_jaccard
            FROM pruned p
            LEFT JOIN inter i ON i.id1 = p.id1 AND i.id2 = p.id2
            JOIN sz z1 ON z1.id = p.id1
            JOIN sz z2 ON z2.id = p.id2
        """,
        "minhash_jaccard_est": f"""
            WITH {_PRUNED_SQL},
            {_tok_ctes('documents')},
            {_SIG_CTE}
            SELECT p.id1, p.id2,
                   (({" + ".join(f"(a.h{i} = b.h{i})::int" for i in range(8))})::double / 8.0)
                   AS jaccard_est
            FROM pruned p JOIN sig a ON a.doc_id = p.id1
                          JOIN sig b ON b.doc_id = p.id2
        """,
        "tfidf_cosine": _TFIDF_COSINE_SQL,
        "quality_score": f"""
            WITH {_quality_ctes('documents')}
            SELECT doc_id, quality FROM qual
        """,
        "lang_guess": f"""
            WITH {_lang_ctes('documents')}
            SELECT doc_id, lang_pred FROM lang_best
        """,
        "feature_embed": """
            SELECT doc_id,
                   round(cos((n_chars % 10) / 9.0 * pi() / 2.0), 6) AS ord_cos,
                   round(sin((n_chars % 10) / 9.0 * pi() / 2.0), 6) AS ord_sin,
                   CASE WHEN n_chars % 2 = 0 THEN 1.0 ELSE 0.0 END AS bool_cos,
                   CASE WHEN n_chars % 2 = 0 THEN 0.0 ELSE 1.0 END AS bool_sin
            FROM documents
        """,
        "simhash_near_pairs": _simhash_sql(max_hamming=3),
        "klsh_lloyd": _klsh_lloyd_sql(k=4, iters=5),
        "encoder_forward": _encoder_forward_sql(),
        "lang_pivot": f"""
            SELECT source,
                   {", ".join(f"count(*) FILTER (lang = '{lang}') AS n_{lang}"
                              for lang in _PIVOT_LANGS)},
                   sum(n_chars)::bigint AS total_chars
            FROM documents GROUP BY source
        """,
        "value_percentiles": """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 6) AS p50,
                   round(quantile_cont(value, 0.9), 6) AS p90,
                   round(quantile_cont(value, 0.99), 6) AS p99,
                   count(*) AS n_events
            FROM events GROUP BY event_type
        """,
        "purchasers_with_errors": """
            SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
            INTERSECT
            SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
        """,
        "dedup_keep_list": _keep_list_sql(jaccard_threshold=0.8),
        "ann_lsh_topk": _ann_lsh_sql(),
        "ann_pq_topk": _ann_pq_sql(),
        "ann_ivf_topk": _ann_ivf_sql(),
        "semantic_dedup": _semantic_dedup_sql(),
        "contamination_check": f"""
            WITH {_LST_CTE},
            idx AS (
                SELECT doc_id, toks,
                       unnest(range(1, greatest(len(toks) - 2, 1))) AS i
                FROM lst
            ),
            grams AS (
                SELECT DISTINCT doc_id,
                       md5(array_to_string(toks[i:i+3], ' ')) AS gram
                FROM idx
            ),
            tg AS (SELECT * FROM grams WHERE doc_id % 31 <> 0),
            bg AS (SELECT doc_id AS bench_doc_id, gram
                   FROM grams WHERE doc_id % 31 = 0)
            SELECT tg.doc_id,
                   count(DISTINCT tg.gram) AS n_contaminated_grams,
                   count(DISTINCT bench_doc_id) AS n_bench_docs
            FROM tg JOIN bg USING (gram)
            GROUP BY 1
        """,
        "pii_scan": _pii_sql(),
        "hll_distinct_tokens": _hll_sql(),
        "pack_sequences": f"""
            WITH {_PACK_CTES}
            SELECT doc_id, n_tokens, shard, (p // 512)::BIGINT AS pack_id
            FROM pre
        """,
        "packed_corpus": f"""
            WITH {_PACK_CTES}
            SELECT shard, (p // 512)::BIGINT AS pack_id,
                   count(*)::BIGINT AS n_docs,
                   sum(n_tokens)::BIGINT AS n_tokens,
                   md5(string_agg(text, chr(10) || chr(10)
                                  ORDER BY h, doc_id)) AS text_md5
            FROM pre GROUP BY 1, 2
        """,
        "dup_spans": f"""
            WITH {_SPAN_CTES},
            isl AS (
              SELECT doc_id, pos,
                     pos - row_number() OVER (PARTITION BY doc_id
                                              ORDER BY pos) AS island
              FROM cov
            )""" + _SPANS_FROM_ISL,
        "dup_spans_exact": f"""
            WITH {_SPAN_CTES},
            pos2 AS (
              SELECT doc_id, i - 1 AS pos,
                     md5(array_to_string(toks[i:i+8], ' ')) AS g2
              FROM lst,
                   LATERAL (SELECT unnest(range(1, len(toks) - 7)) AS i) r
              WHERE len(toks) >= 9
            ),
            dup2 AS (
              SELECT g2 FROM pos2
              GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
            ),
            linked AS (
              SELECT p.doc_id, p.pos, TRUE AS lk
              FROM pos2 p JOIN dup2 USING (g2)
            ),
            cov2 AS (
              SELECT c.doc_id, c.pos, coalesce(l.lk, FALSE) AS lk
              FROM cov c
              LEFT JOIN linked l ON c.doc_id = l.doc_id AND c.pos = l.pos
            ),
            runs AS (
              SELECT doc_id, pos, lk,
                     CASE WHEN lag(pos) OVER w IS NULL
                            OR lag(pos) OVER w <> pos - 1
                            OR NOT lag(lk) OVER w
                          THEN 1 ELSE 0 END AS brk
              FROM cov2 WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
            ),
            isl AS (
              SELECT doc_id, pos,
                     sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
              FROM runs
            )""" + _SPANS_FROM_ISL,
        "distinct_token_kmv": f"""
            WITH {_POS_TOK_CTES},
            h AS (
                SELECT DISTINCT
                       ('0x' || substr(md5(tok), 1, 15))::BIGINT
                           / 1152921504606846976.0 AS h
                FROM tok
            ),
            kept AS (SELECT h FROM h ORDER BY h LIMIT 128)
            SELECT 128::BIGINT AS k, count(*)::BIGINT AS n_kept,
                   round(max(h), 6) AS kth_hash,
                   round(CASE WHEN count(*) >= 128 THEN 127 / max(h)
                              ELSE count(*)::DOUBLE END, 6) AS est_distinct
            FROM kept
        """,
        "url_dedup": _URL_DEDUP_SQL,
        "domain_stats": rf"""
            WITH {_quality_ctes('documents')},
            {_lang_ctes('documents')},
            base AS (
                SELECT d.doc_id,
                       'site' || (d.doc_id % 40)::VARCHAR || '.example.com'
                         AS host,
                       len(list_filter(string_split_regex(d.text, '[ \t\n\r\f]+'),
                                       t -> t <> ''))::BIGINT AS n_tokens,
                       round(q.quality * 1000000)::BIGINT AS q_micro,
                       lb.lang_pred AS lang
                FROM documents d
                JOIN qual q USING (doc_id)
                JOIN lang_best lb USING (doc_id)
            ),
            per_lang AS (
                SELECT host, lang, count(*) AS n,
                       sum(n_tokens)::BIGINT AS tok,
                       sum(q_micro)::BIGINT AS qsum
                FROM base GROUP BY 1, 2
            )
            SELECT host, sum(n)::BIGINT AS n_docs,
                   sum(tok)::BIGINT AS total_tokens,
                   (sum(qsum)::BIGINT // sum(n)::BIGINT) AS mean_q_micro,
                   substr(min(printf('%010d', 100000000 - n)
                              || '|' || lang), 12) AS top_lang
            FROM per_lang GROUP BY 1
        """,
        "prepared_corpus": _prepared_corpus_sql(),
        "blocked_docs": r"""
            WITH hosts AS (
              SELECT doc_id,
                     'site' || (doc_id % 40)::VARCHAR || '.example.com'
                       AS host
              FROM documents
            ),
            sfx AS (
              SELECT doc_id, host, array_to_string(parts[i:], '.') AS sfx
              FROM (SELECT doc_id, host,
                           string_split(host, '.') AS parts FROM hosts),
                   LATERAL (SELECT unnest(range(1, len(parts))) AS i) r
            ),
            hits AS (
              SELECT * FROM sfx
              WHERE sfx IN ('site3.example.com', 'site17.example.com',
                            'site21.example.com')
            )
            SELECT doc_id, host,
                   max_by(sfx, length(sfx)) AS matched_domain
            FROM hits GROUP BY doc_id, host
        """,
        "training_mix": f"""
            SELECT doc_id, source FROM documents
            WHERE {_mix_keep('')}
        """,
        "crawl_snapshot": _CRAWL_SNAPSHOT_SQL,
        "crawl_diff": _CRAWL_DIFF_SQL,
        "boilerplate_strip": f"""
            WITH pages AS (
              SELECT doc_id, source,
                {_page_sql('')}
              FROM documents
            ),
            {_BOILER_CTES}
            SELECT doc_id, count(*)::BIGINT AS n_lines,
                   sum(CASE WHEN is_boiler THEN 1 ELSE 0 END)::BIGINT
                     AS n_boiler,
                   md5(coalesce(string_agg(line, chr(10) ORDER BY pos)
                                FILTER (WHERE NOT is_boiler), ''))
                     AS cleaned_md5
            FROM pflag GROUP BY 1
        """,
        "lm_cross_entropy": r"""
            WITH tok AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                 t -> t <> '') AS toks
              FROM documents
            ),
            inst AS (
              SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
              FROM tok, LATERAL (SELECT unnest(range(1, len(toks))) AS i) r
              WHERE len(toks) >= 2
            ),
            c12 AS (SELECT w1, w2, count(*) AS c12 FROM inst GROUP BY 1, 2),
            c1 AS (SELECT w1, count(*) AS c1 FROM inst GROUP BY 1),
            v AS (
              SELECT count(DISTINCT w) AS v
              FROM (SELECT unnest(toks) AS w FROM tok)
            ),
            doc_big AS (
              SELECT doc_id, w1, w2, count(*) AS m FROM inst GROUP BY 1, 2, 3
            ),
            lp AS (
              SELECT doc_id, m,
                     round(ln((c12.c12 + 1)::DOUBLE / (c1.c1 + v.v))
                           * 1000000)::BIGINT AS lp_micro
              FROM doc_big
              JOIN c12 USING (w1, w2)
              JOIN c1 USING (w1)
              CROSS JOIN v
            )
            SELECT doc_id, sum(m)::BIGINT AS n_bigrams,
                   ((-sum(m * lp_micro))::BIGINT // sum(m)::BIGINT)
                     AS ce_micro
            FROM lp GROUP BY 1
        """,
        "soundex_keys": _soundex_sql(),
        "metaphone_keys": _metaphone_sql(),
        "winnow_fingerprints": _winnow_sql(k=5, window=4),
        "embedding_near_dups": _embedding_near_dups_sql(threshold=0.3),
        "event_rollup": """
            SELECT grouping(event_type)::bigint AS g_type,
                   grouping(hr)::bigint AS g_hr,
                   coalesce(event_type, 'ALL') AS event_type,
                   coalesce(hr, TIMESTAMP '1900-01-01 00:00:00') AS hr,
                   count(*) AS n_events,
                   round(sum(value), 4) AS sum_value
            FROM (SELECT event_type, date_trunc('hour', ts) AS hr, value FROM events)
            GROUP BY ROLLUP(event_type, hr)
        """,
        "docs_without_edges": f"""
            WITH {_EDGES_SQL},
            pruned AS (SELECT id1, id2 FROM edges WHERE weight > 2.5),
            ids AS (SELECT id1 AS doc_id FROM pruned UNION SELECT id2 FROM pruned)
            SELECT d.doc_id, d.lang FROM documents d
            WHERE NOT EXISTS (SELECT 1 FROM ids i WHERE i.doc_id = d.doc_id)
        """,
        "user_sessions": """
            WITH o AS (
                SELECT user_id, event_id, ts, value,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR date_diff('microsecond', lag(ts) OVER w, ts)
                                    > 1800000000
                            THEN 1 ELSE 0 END AS brk
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            s AS (
                SELECT user_id, value, ts,
                       sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING)::bigint AS session_idx
                FROM o
            )
            SELECT user_id, session_idx,
                   count(*) AS n_events,
                   min(ts) AS session_start,
                   max(ts) AS session_end,
                   round(sum(value), 4) AS sum_value
            FROM s GROUP BY 1, 2
        """,
        "score_histogram": f"""
            WITH scored AS ({_TFIDF_COSINE_SQL})
            SELECT least(floor(tfidf_cosine * 10), 9)::bigint AS bin,
                   count(*) AS n_pairs,
                   round(avg(tfidf_cosine), 6) AS mean_score
            FROM scored GROUP BY 1
        """,
        "two_stage_blocks": f"""
            SELECT DISTINCT doc_id AS record_id,
                   'initial_block-lang_exact:' || lower(lang) AS block_key
            FROM documents
            UNION
            SELECT DISTINCT doc_id AS record_id,
                   'initial_block-lang_exact:' || lower(lang)
                   || '-title_phonetic_combination:' || block_key AS block_key
            FROM (
                SELECT doc_id, lang, {_BLOCK_KEYS}
                FROM (SELECT doc_id, lang, lower({_TITLE_SQL}) AS s FROM documents)
            )
        """,
        "hash_date_features": """
            SELECT event_id,
                round((('0x' || substr(md5('seed42_' || strftime(ts, '%m') || '_' || strftime(ts, '%Y')), 1, 15))::bigint % 1000) / 1000.0, 6) AS my_feat,
                round((('0x' || substr(md5('seed42_' || strftime(ts, '%d') || '_' || strftime(ts, '%Y')), 1, 15))::bigint % 1000) / 1000.0, 6) AS dy_feat,
                round((('0x' || substr(md5('seed42_' || strftime(ts, '%d') || '_' || strftime(ts, '%m')), 1, 15))::bigint % 1000) / 1000.0, 6) AS dm_feat
            FROM events
        """,
        "iqr_outliers": """
            WITH q AS (
                SELECT quantile_cont(value, 0.15) AS lo_q, quantile_cont(value, 0.85) AS hi_q
                FROM events
            ),
            b AS (SELECT lo_q - 1.5 * (hi_q - lo_q) AS lo, hi_q + 1.5 * (hi_q - lo_q) AS hi FROM q)
            SELECT 'value' AS feature,
                   round(lo, 6) AS lower_bound,
                   round(hi, 6) AS upper_bound,
                   (SELECT count(*) FROM events, b WHERE value < lo OR value > hi)::bigint AS n_outliers
            FROM b
        """,
        "pair_auroc": f"""
            WITH {_PAIR_SCORES_CTES},
            ranked AS (
                SELECT y,
                       rank() OVER (ORDER BY s) + (count(*) OVER (PARTITION BY s) - 1) / 2.0 AS r
                FROM sp
            )
            SELECT round(
                     (sum(r * y) - sum(y) * (sum(y) + 1) / 2.0)
                     / greatest(sum(y) * sum(1 - y), 1), 6) AS auroc
            FROM ranked
        """,
        "pair_threshold_metrics": f"""
            WITH {_PAIR_SCORES_CTES},
            c AS (
                SELECT sum((s >= 0.5)::int * y) AS tp,
                       sum((s >= 0.5)::int * (1 - y)) AS fp,
                       sum((s < 0.5)::int * y) AS fn,
                       sum((s < 0.5)::int * (1 - y)) AS tn
                FROM sp
            )
            SELECT tp::bigint AS tp, fp::bigint AS fp, fn::bigint AS fn, tn::bigint AS tn,
                   round(tp / greatest(tp + fp, 1), 6) AS precision,
                   round(tp / greatest(tp + fn, 1), 6) AS recall,
                   round((tp + tn) / greatest(tp + fp + fn + tn, 1), 6) AS accuracy
            FROM c
        """,
        "repetition_signals": f"""
            WITH {_POS_TOK_CTES},
            tc AS (SELECT doc_id, tok, count(*) AS cnt FROM tok GROUP BY 1, 2),
            per_doc AS (
                SELECT doc_id, sum(cnt)::bigint AS n_tokens,
                       count(*) AS n_distinct, max(cnt) AS top_token_count
                FROM tc GROUP BY 1
            ),
            {_BIGRAM_CTES},
            bdoc AS (
                SELECT doc_id, sum(cnt)::bigint AS n_bigrams,
                       sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END)::bigint AS dup_occ
                FROM bc GROUP BY 1
            )
            SELECT p.doc_id, p.n_tokens, p.n_distinct,
                   round(p.n_distinct / p.n_tokens, 6) AS distinct_ratio,
                   p.top_token_count,
                   round(p.top_token_count / p.n_tokens, 6) AS top_token_frac,
                   coalesce(b.n_bigrams, 0)::bigint AS n_bigrams,
                   round(coalesce(b.dup_occ, 0)
                         / greatest(coalesce(b.n_bigrams, 0), 1), 6)
                       AS dup_bigram_frac
            FROM per_doc p LEFT JOIN bdoc b USING (doc_id)
        """,
        "chunk_dups": f"""
            WITH {_POS_TOK_CTES},
            chunk AS (
                SELECT doc_id, (pos - 1) // 8 AS cid,
                       string_agg(tok, ' ' ORDER BY pos) AS chunk
                FROM tok GROUP BY 1, 2
            )
            SELECT md5(chunk) AS chunk_md5,
                   count(DISTINCT doc_id) AS n_docs,
                   count(*) AS n_occurrences,
                   min(doc_id) AS sample_doc_id
            FROM chunk GROUP BY 1
            HAVING count(DISTINCT doc_id) >= 2
        """,
        "purchase_attribution": """
            WITH u AS (
                SELECT user_id, ts, 1 AS is_l, event_id,
                       NULL::bigint AS r_click_id, NULL::timestamp AS r_ts
                FROM events WHERE event_type = 'purchase'
                UNION ALL
                SELECT user_id, ts, 0, NULL,
                       event_id, ts
                FROM events WHERE event_type = 'click'
            ),
            carried AS (
                SELECT user_id, ts, is_l, event_id,
                       last_value(r_click_id IGNORE NULLS) OVER w AS click_id0,
                       last_value(r_ts IGNORE NULLS) OVER w AS click_ts0
                FROM u
                WINDOW w AS (PARTITION BY user_id
                             ORDER BY ts, is_l, coalesce(r_click_id, -1)
                             ROWS UNBOUNDED PRECEDING)
            )
            SELECT event_id, user_id, ts,
                   coalesce(click_id0, -1)::bigint AS click_id,
                   coalesce(click_ts0, TIMESTAMP '1900-01-01 00:00:00') AS click_ts,
                   coalesce(CASE WHEN click_id0 IS NOT NULL THEN
                            date_diff('microsecond', click_ts0, ts) END,
                            -1)::bigint AS micros_since_click
            FROM carried WHERE is_l = 1
        """,
        "error_nearby_views": """
            WITH errors AS (
                SELECT event_id, user_id, ts FROM events
                WHERE event_type = 'error'
            ),
            views AS (
                SELECT user_id, ts FROM events WHERE event_type = 'view'
            ),
            counts AS (
                SELECT e.event_id, count(*) AS n
                FROM errors e JOIN views v
                  ON e.user_id = v.user_id
                 AND abs(date_diff('microsecond', e.ts, v.ts)) <= 300000000
                GROUP BY 1
            )
            SELECT e.event_id, e.user_id, e.ts,
                   coalesce(c.n, 0)::bigint AS n_nearby_views
            FROM errors e LEFT JOIN counts c USING (event_id)
        """,
        "doc_filter": f"""
            WITH {_quality_ctes('documents')},
            {_lang_ctes('documents')},
            {_POS_TOK_CTES},
            tc AS (SELECT doc_id, tok, count(*) AS cnt FROM tok GROUP BY 1, 2),
            dr AS (
                SELECT doc_id, round(count(*) / sum(cnt)::bigint, 6) AS distinct_ratio
                FROM tc GROUP BY 1
            ),
            {_BIGRAM_CTES},
            bdoc AS (
                SELECT doc_id,
                       round(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END)::bigint
                             / greatest(sum(cnt)::bigint, 1), 6) AS dup_bigram_frac
                FROM bc GROUP BY 1
            ),
            joined AS (
                SELECT q.doc_id, q.quality, dr.distinct_ratio,
                       coalesce(bdoc.dup_bigram_frac, 0.0) AS dup_bigram_frac,
                       lb.lang_pred
                FROM qual q
                JOIN dr USING (doc_id)
                LEFT JOIN bdoc USING (doc_id)
                JOIN lang_best lb USING (doc_id)
            )
            SELECT doc_id, quality, distinct_ratio, dup_bigram_frac, lang_pred,
                   (NOT (lang_pred = 'und' OR quality < 0.5
                         OR dup_bigram_frac > 0.12
                         OR distinct_ratio < 0.35))::bigint AS keep,
                   CASE WHEN lang_pred = 'und' THEN 'lang_unknown'
                        WHEN quality < 0.5 THEN 'low_quality'
                        WHEN dup_bigram_frac > 0.12 THEN 'repetitive'
                        WHEN distinct_ratio < 0.35 THEN 'low_diversity'
                        ELSE 'ok' END AS reason
            FROM joined
        """,
    }
