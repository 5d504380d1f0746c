"""The pure-SQL XXH64 generator (``fundus_spark/xxh64_sql.py``) behind
the ``*_xxhash`` DuckDB oracles, checked against Spark's ``xxhash64``
(seed 42) values for fixed vectors. DuckDB only: the expected values
were produced by Spark once and are pinned here, so no session starts.
The vectors cover every XXH64 length path: empty, the 1-3 byte tail,
the 4-byte word, the 8-byte lane, and inputs below, at and above the
32-byte stripe."""

from __future__ import annotations

import duckdb

from fundus_spark.xxh64_sql import xxh64_hash_cte

VECTORS = [
    ("", -7444071767201028348),
    ("a", -8582455328737087284),
    ("ab", 2710560539726725091),
    ("abc", 1423657621850124518),
    ("abcd", -6810745876291105281),
    ("abcdefgh", 2470326616177429180),
    ("hello world", 7620854247404556961),
    ("p0:the quick brown fox", -7314368921177993259),
    ("x" * 31, -1716462135722163746),
    ("y" * 32, 5202031258905353636),
    ("z" * 40, 3704736774823768419),
    ("p3:one two three four five six", -3691402147082881538),
]


def test_xxh64_sql_matches_spark_xxhash64():
    con = duckdb.connect()
    con.execute("CREATE TABLE t(s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [[s] for s, _ in VECTORS])
    got = dict(con.execute(f"WITH RECURSIVE {xxh64_hash_cte('t')} SELECT s, h FROM xh").fetchall())
    # the CTE yields the unsigned 64-bit value; Spark's xxhash64 is signed
    signed = {s: h - (1 << 64) if h >= (1 << 63) else h for s, h in got.items()}
    assert signed == dict(VECTORS)
