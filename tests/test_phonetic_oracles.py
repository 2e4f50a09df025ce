"""Differential test: the DuckDB recursive-CTE soundex/metaphone oracles vs
the engine's implementations (Spark built-in soundex; Python metaphone), over
words chosen to hit every automaton branch — initial-letter exceptions,
H/W skipping, duplicate collapsing, GH/DG two-char consumption, the
end-of-string containment quirk (``'' in "AEIOU"`` is True), passthrough of
non-letter-initial strings."""

from __future__ import annotations

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from entity_resolution_spark.functions.blocking_keys import _metaphone_one
from oracles import _metaphone_sql, _soundex_sql

WORDS = [
    "Robert", "Rupert", "Ashcraft", "Ashcroft", "Tymczak", "Pfister",
    "Honeyman", "Knight", "Gnome", "Pneumatic", "Wright", "Aegis", "Xavier",
    "Whale", "Thompson", "Judge", "Ghost", "Night", "Laugh", "Science",
    "School", "Cia", "Nation", "Question", "Boxer", "Maybe", "Lamb", "Comb",
    "bobby", "llama", "happy", "yellow", "away", "key", "saw", "dog", "edge",
    "budget", "tix", "cy", "gy", "ti", "si", "dg", "gh", "sh", "th", "wh",
    "a", "b", "h", "w", "y", "x", "q", "z", "hw", "bfpv", "aeiou", "ll",
    "mccarthy", "o'brien", "123abc", "", "church", "chasm", "schism",
]


def _duck(sql: str, titles: list[str]) -> dict[int, str]:
    con = duckdb.connect()
    docs = pd.DataFrame(
        {"doc_id": range(len(titles)), "text": [t + " filler" for t in titles]}
    )
    con.register("documents", docs)
    out = con.execute(sql).fetchall()
    return {int(r[0]): r[1] for r in out}


def _spark_titles(spark, titles):
    return spark.createDataFrame(
        [(i, t + " filler") for i, t in enumerate(titles)], ["doc_id", "text"]
    ).select(
        "doc_id", F.split_part(F.col("text"), F.lit(" "), F.lit(1)).alias("title")
    )


def test_soundex_oracle_differential(spark):
    titles = [w for w in WORDS if " " not in w and w != ""]
    got = _duck(_soundex_sql(), titles)
    exp = {
        r["doc_id"]: r["sx"]
        for r in _spark_titles(spark, titles)
        .select("doc_id", F.soundex(F.trim("title")).alias("sx"))
        .collect()
    }
    diffs = {i: (titles[i], exp[i], got[i]) for i in exp if exp[i] != got[i]}
    assert not diffs, diffs


def test_metaphone_oracle_differential():
    titles = [w for w in WORDS if " " not in w and w != ""]
    got = _duck(_metaphone_sql(), titles)
    exp = {i: _metaphone_one(t.strip()) for i, t in enumerate(titles)}
    diffs = {i: (titles[i], exp[i], got[i]) for i in exp if exp[i] != got[i]}
    assert not diffs, diffs
