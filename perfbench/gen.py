"""Seeded input generators for the benchmark (DuckDB SQL, no Spark).

Everything here is a pure function of ``seed`` (and of the per-file
``salt``): the same seed always writes byte-identical files. DuckDB
generates and writes the files, so generation cost stays small next to
session start and the engine never sees how the inputs were made.

Voter TSVs follow the loader's file contract (`{seq}--{ST}--{date}.tab`,
tab-separated, header row, empty cell = NULL) and fill every column of
``schema.VOTER_FIELDS`` by its declared type except the geohash column,
which the loader computes and the source files never carry.

The star-schema tables reuse ``tools/sf_generate.py``'s hash-derived
domain rules (contiguous 0-based keys, the same name formats, value
domains and date ranges) with the seed salted into every hash, at the
sf0.01 row counts of the repository's test data.
"""

from __future__ import annotations

import os

import duckdb
from pyspark.sql import types as T

from tools import scale_probe, sf_generate
from voter_file_etl_spark.functions.geohash import geohash_sql
from voter_file_etl_spark.operators.etl import PK
from voter_file_etl_spark.schema import GEOHASH_COLUMN, VOTER_FIELDS

PARTIES = ["Democratic", "Republican", "Non-Partisan", "Libertarian", "Green"]
# One in DUP_MOD rows of a file is written twice, so a correct load drops
# n_rows / DUP_MOD rows per file: far below etl.COUNT_TOLERANCE (1000) at
# every size used here, so every file must reconcile.
DUP_MOD = 40


def _q(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'


def _list(values) -> str:
    return "[" + ", ".join("'" + v.replace("'", "''") + "'" for v in values) + "]"


def _voter_exprs(seed: int, salt: int, state: str) -> list[str]:
    """One SQL expression per TSV column, over a row id ``id``."""

    def h(k) -> str:
        return f"hash({seed}, {salt}, id, {k})"

    exprs = []
    for k, (name, dtype) in enumerate(VOTER_FIELDS.items()):
        if name == GEOHASH_COLUMN:
            continue
        if name == PK:
            e = f"'LAL{state}' || lpad(id::VARCHAR, 9, '0')"
        elif name == "Residence_Addresses_Latitude":
            e = (f"CASE WHEN {h(-1)} % 11 = 0 THEN NULL ELSE "
                 f"printf('%.6f', 25 + ({h(k)} % 1000000) / 1e6 * 24) END")
        elif name == "Residence_Addresses_Longitude":
            e = (f"CASE WHEN {h(-1)} % 11 = 0 THEN NULL ELSE "
                 f"printf('%.6f', -124 + ({h(k)} % 1000000) / 1e6 * 57) END")
        elif name == "Residence_Addresses_City":
            e = (f"'City' || ({h(k)} % 40)::VARCHAR || "
                 f"CASE WHEN {h(-2)} % 7 = 0 THEN ' (EST.)' ELSE '' END")
        elif name == "Parties_Description":
            e = f"{_list(PARTIES)}[({h(k)} % {len(PARTIES)})::INTEGER + 1]"
        elif isinstance(dtype, T.DateType):
            e = (f"CASE WHEN {h(k)} % 20 = 0 THEN NULL ELSE strftime("
                 f"DATE '1940-01-01' + ({h(k)} % 30000)::INTEGER, '%m/%d/%Y') END")
        elif isinstance(dtype, T.IntegerType):
            e = (f"CASE WHEN {h(k)} % 20 = 0 THEN NULL "
                 f"ELSE ({h(k)} % 100000)::VARCHAR END")
        else:
            card = (k * 37) % 500 + 2
            e = (f"CASE WHEN {h(k)} % 10 = 0 THEN NULL "
                 f"ELSE 'v' || ({h(k)} % {card})::VARCHAR END")
        exprs.append(f"{e} AS {_q(name)}")
    return exprs


def write_voter_tsv(
    con: duckdb.DuckDBPyConnection,
    path: str,
    seed: int,
    salt: int,
    state: str,
    n_rows: int,
) -> int:
    """Write one state's voter TSV; returns its line count (header
    included), the value the manifest records as ``Lines``.

    Rows carry PKs ``LAL{state}{id:09d}`` for id < n_rows; every
    DUP_MOD-th row (by hash) is written twice, byte-identical, so the
    loader's dedup survivor is unambiguous. ``salt`` varies the values,
    not the PK universe: a redelivered file replaces the same voters.
    """
    sql = f"""
    COPY (
      WITH r AS (SELECT range AS id FROM range({n_rows})),
      d AS (SELECT id FROM r
            UNION ALL
            SELECT id FROM r WHERE hash({seed}, {salt}, id, 'dup') % {DUP_MOD} = 0)
      SELECT {", ".join(_voter_exprs(seed, salt, state))}
      FROM d ORDER BY hash({seed}, {salt}, id, 'order')
    ) TO '{path}' (FORMAT CSV, DELIMITER '\t', HEADER true)
    """
    (written,) = con.execute(sql).fetchone()
    return int(written) + 1


def write_demographic_tsv(path: str, state: str) -> int:
    """A DEMOGRAPHIC companion file: the loader must skip it, so its
    PKs (outside every voter file's range) must never be published."""
    rows = [f"LAL{state}9{i:08d}\tD{i}" for i in range(50)]
    with open(path, "w") as f:
        f.write("LALVOTERID\tDemographic_Code\n" + "\n".join(rows) + "\n")
    return len(rows) + 1


def tsv_view(path: str) -> str:
    """DuckDB relation over a voter TSV exactly as written: every column
    text, empty cell = NULL."""
    return (f"read_csv('{path}', delim='\t', header=true, all_varchar=true, "
            f"quote='', escape='')")


def expected_voters_sql(tsv_paths: list[str]) -> str:
    """DuckDB SELECT of what a correct load publishes from these files:
    one row per PK (duplicates are byte-identical), the ' (EST.)' city
    suffix stripped, and the precision-8 geohash of the text lat/long
    (NULL when either is blank)."""
    lat = 'TRY_CAST("Residence_Addresses_Latitude" AS DOUBLE)'
    lon = 'TRY_CAST("Residence_Addresses_Longitude" AS DOUBLE)'
    union = " UNION ALL ".join(f"SELECT * FROM {tsv_view(p)}" for p in tsv_paths)
    return f"""
    SELECT DISTINCT "{PK}" AS pk,
           regexp_replace("Residence_Addresses_City", ' \\(EST\\.\\)$', '') AS city,
           CASE WHEN {lat} IS NULL OR {lon} IS NULL THEN NULL
                ELSE {geohash_sql(lat, lon, 8, "duckdb")} END AS geohash,
           "Parties_Description" AS party,
           "Voters_FirstName" AS first_name
    FROM ({union})
    """


# ---------------------------------------------------------------------------
# Star schema (serve workload)
# ---------------------------------------------------------------------------
N_CUSTOMER = 1_500
N_SUPPLIER = 100
N_PART = 2_000
N_ORDERS = 15_000
N_EVENTS = 10_000
N_DOCS = 500
N_VECS = 500
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def write_star_schema(out_dir: str, seed: int) -> None:
    """Write the ten tables the registry reads, one parquet file each
    (the layout ``tables.t`` and the DuckDB oracle views expect)."""
    os.makedirs(out_dir, exist_ok=True)
    sg = sf_generate

    def h(*cols) -> str:
        return f"hash({seed}, {', '.join(str(c) for c in cols)})"

    def pick(options, *cols) -> str:
        return f"{_list(options)}[({h(*cols)} % {len(options)})::INTEGER + 1]"

    def u(lo: float, hi: float, *cols) -> str:
        return f"round({lo} + ({h(*cols)} % 1000000) / 1e6 * ({hi - lo}), 2)"

    odate = f"(TIMESTAMP '1995-01-01' + to_days(({h('id', 14)} % 2405)::INTEGER))"
    tables = {
        "region": f"""
            SELECT range::INTEGER AS r_regionkey,
                   {_list(_REGIONS)}[range::INTEGER + 1] AS r_name
            FROM range(5)""",
        "nation": """
            SELECT range::INTEGER AS n_nationkey,
                   'NATION_' || range::VARCHAR AS n_name,
                   (range % 5)::INTEGER AS n_regionkey
            FROM range(25)""",
        "customer": f"""
            SELECT id AS c_custkey, printf('Customer#%09d', id) AS c_name,
                   ({h('id', 1)} % 25)::INTEGER AS c_nationkey,
                   {u(-999.99, 9999.99, 'id', 2)} AS c_acctbal,
                   {pick(sg._SEGMENTS, 'id', 3)} AS c_mktsegment
            FROM (SELECT range AS id FROM range({N_CUSTOMER}))""",
        "supplier": f"""
            SELECT id AS s_suppkey, printf('Supplier#%09d', id) AS s_name,
                   ({h('id', 4)} % 25)::INTEGER AS s_nationkey,
                   {u(-999.99, 9999.99, 'id', 5)} AS s_acctbal
            FROM (SELECT range AS id FROM range({N_SUPPLIER}))""",
        "part": f"""
            SELECT id AS p_partkey,
                   {pick(sg._ADJ, 'id', 6)} || ' ' || {pick(sg._NOUN, 'id', 7)} AS p_name,
                   'Brand#' || ({h('id', 8)} % 25 + 1)::VARCHAR AS p_brand,
                   {pick(sg._TYPES, 'id', 9)} AS p_type,
                   ({h('id', 10)} % 50 + 1)::INTEGER AS p_size,
                   900.0 + (id % 1000) / 10.0 AS p_retailprice
            FROM (SELECT range AS id FROM range({N_PART}))""",
        "orders": f"""
            SELECT id AS o_orderkey,
                   ({h('id', 11)} % {N_CUSTOMER})::BIGINT AS o_custkey,
                   {pick(sg._STATUSES, 'id', 12)} AS o_orderstatus,
                   {u(1000.0, 500000.0, 'id', 13)} AS o_totalprice,
                   {odate} AS o_orderdate,
                   {pick(sg._PRIORITIES, 'id', 15)} AS o_orderpriority
            FROM (SELECT range AS id FROM range({N_ORDERS}))""",
        "lineitem": f"""
            SELECT id AS l_orderkey,
                   ({h('id', 'i', 17)} % {N_PART})::BIGINT AS l_partkey,
                   ({h('id', 'i', 18)} % {N_SUPPLIER})::BIGINT AS l_suppkey,
                   ({h('id', 'i', 19)} % 7 + 1)::INTEGER AS l_linenumber,
                   ({h('id', 'i', 20)} % 50 + 1)::DOUBLE AS l_quantity,
                   {u(900.0, 105000.0, 'id', 'i', 21)} AS l_extendedprice,
                   ({h('id', 'i', 22)} % 11) / 100.0 AS l_discount,
                   ({h('id', 'i', 23)} % 9) / 100.0 AS l_tax,
                   {pick(sg._RETURNFLAGS, 'id', 'i', 24)} AS l_returnflag,
                   {pick(sg._LINESTATUSES, 'id', 'i', 25)} AS l_linestatus,
                   {odate} + to_days(({h('id', 'i', 26)} % 95 + 1)::INTEGER) AS l_shipdate
            FROM (SELECT id, unnest(range(1, ({h('id', 16)} % 7 + 2)::BIGINT)) AS i
                  FROM (SELECT range AS id FROM range({N_ORDERS})))""",
        "events": f"""
            SELECT id AS event_id,
                   TIMESTAMP '2024-01-01'
                     + to_microseconds(({h('id', 27)} % {30 * 86_400 * 1_000_000})::BIGINT) AS ts,
                   ({h('id', 28)} % {max(1, N_CUSTOMER // 10)})::BIGINT AS user_id,
                   {pick(sg._EVENT_TYPES, 'id', 29)} AS event_type,
                   {u(0.0, 560.21, 'id', 30)} AS value,
                   '{{"k": ' || ({h('id', 31)} % 100)::VARCHAR || '}}' AS props
            FROM (SELECT range AS id FROM range({N_EVENTS}))""",
        "documents": f"""
            SELECT doc_id, text, lang, source, length(text)::BIGINT AS n_chars FROM (
              SELECT id AS doc_id,
                     array_to_string(list_transform(
                       range(1, ({h('id', -1)} % 112 + 9)::BIGINT),
                       i -> {_list(scale_probe._WORDS)}[
                              (hash({seed}, id, i) % {len(scale_probe._WORDS)})::INTEGER + 1]),
                       ' ') AS text,
                     {pick(scale_probe._LANGS, 'id', -2)} AS lang,
                     'src' || ({h('id', -3)} % 20)::VARCHAR AS source
              FROM (SELECT range AS id FROM range({N_DOCS})))""",
        "embeddings": f"""
            SELECT id AS vec_id,
                   list_transform(range(0, 64),
                     i -> ((((hash({seed}, id, i) % 2001)::INTEGER - 1000) / 1000.0)::FLOAT)
                   ) AS embedding,
                   ({h('id', -4)} % 10)::INTEGER AS label
            FROM (SELECT range AS id FROM range({N_VECS}))""",
    }
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 1")
        for name, sql in tables.items():
            path = os.path.join(out_dir, f"{name}.parquet")
            con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")
    finally:
        con.close()
