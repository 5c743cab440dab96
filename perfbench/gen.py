"""Seeded input generators for the benchmark.

Three inputs, all written with DuckDB, numpy and pyarrow, so that no
code of the program under test takes part in making them:

* ``tables``: the eight TPC-H-like source tables (region, nation,
  customer, supplier, part, orders, lineitem, events) as parquet. They
  are fixed: the same ``scale`` always gives the same rows.
* ``sql_dump``: a pg_dump-style file made from those tables: a SET
  header, one CREATE TABLE per table, one INSERT per row in an order
  drawn from the seed, and an ``ALTER TABLE ... FOREIGN KEY`` footer.
* ``corpus``: a documents table built from a 30-word vocabulary, with
  planted exact and near duplicates, markup, PII, boilerplate and
  repeated lines, all drawn from the seed.

The tables draw each value from ``hash(seed, row, salt)`` in DuckDB and
the corpus from numpy's PCG64 stream, so the same arguments give the
same bytes (``test_gen.py`` checks this).
"""

import os
import re

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# fixed seed of the source tables: dump_full's rows never change
TABLE_SEED = 42

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events"]

# child.column -> parent.column: the FK chain the subset closes over
FOREIGN_KEYS = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
]

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]


def _con():
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("SET enable_progress_bar = false")
    return con


def _u(seed, row, salt):
    """SQL for a uniform draw in [0, 1) keyed by (seed, row, salt)."""
    return f"((hash({seed}, {row}, '{salt}') % 1000000) / 1000000.0)"


def _h(seed, row, salt, n):
    """SQL for a uniform integer draw in [0, n)."""
    return f"CAST(hash({seed}, {row}, '{salt}') % {n} AS BIGINT)"


def row_counts(scale):
    """Rows per table at `scale` (1.0 = TPC-H sf1 proportions)."""
    return {
        "region": 5, "nation": 25,
        "customer": int(150000 * scale), "supplier": int(10000 * scale),
        "part": int(200000 * scale), "orders": int(1500000 * scale),
        "lineitem": int(6000000 * scale), "events": int(1000000 * scale),
    }


def _table_sql(n, s=TABLE_SEED):
    c, o = n["customer"], n["orders"]
    i = "i"
    return {
        "region": f"""SELECT CAST(i AS INTEGER) r_regionkey,
            ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] r_name
            FROM range({n['region']}) t(i)""",
        "nation": f"""SELECT CAST(i AS INTEGER) n_nationkey, 'NATION_' || i n_name,
            CAST(i % 5 AS INTEGER) n_regionkey FROM range({n['nation']}) t(i)""",
        "customer": f"""SELECT i c_custkey, 'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') c_name,
            CAST({_h(s, i, 'cn', 25)} AS INTEGER) c_nationkey,
            round({_u(s, i, 'cb')} * 10999 - 999, 2) c_acctbal,
            ['MACHINERY','AUTOMOBILE','HOUSEHOLD','BUILDING','FURNITURE'][{_h(s, i, 'cs', 5)} + 1] c_mktsegment
            FROM range({c}) t(i)""",
        "supplier": f"""SELECT i s_suppkey, 'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') s_name,
            CAST({_h(s, i, 'sn', 25)} AS INTEGER) s_nationkey,
            round({_u(s, i, 'sb')} * 10999 - 999, 2) s_acctbal
            FROM range({n['supplier']}) t(i)""",
        "part": f"""SELECT i p_partkey,
            ['large','hot','blue','red','small','cold'][{_h(s, i, 'p1', 6)} + 1] || ' ' ||
              ['ring','bolt','nut','gear','pipe'][{_h(s, i, 'p2', 5)} + 1] p_name,
            'Brand#' || ({_h(s, i, 'pb', 25)} + 1) p_brand,
            ['LARGE','ECONOMY','STANDARD','SMALL','MEDIUM','PROMO'][{_h(s, i, 'pt', 6)} + 1] p_type,
            CAST({_h(s, i, 'ps', 50)} + 1 AS INTEGER) p_size,
            900 + (i % 20000) / 10.0 p_retailprice
            FROM range({n['part']}) t(i)""",
        "orders": f"""SELECT i o_orderkey, {_h(s, i, 'oc', c)} o_custkey,
            ['O','F','P'][{_h(s, i, 'os', 3)} + 1] o_orderstatus,
            round({_u(s, i, 'op')} * 450000 + 900, 2) o_totalprice,
            TIMESTAMP '1992-01-01' + to_days(CAST({_h(s, i, 'od', 3650)} AS INTEGER)) o_orderdate,
            ['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'][{_h(s, i, 'oo', 5)} + 1] o_orderpriority
            FROM range({o}) t(i)""",
        "lineitem": f"""SELECT {_h(s, i, 'lo', o)} l_orderkey,
            {_h(s, i, 'lp', n['part'])} l_partkey, {_h(s, i, 'ls', n['supplier'])} l_suppkey,
            CAST({_h(s, i, 'll', 7)} + 1 AS INTEGER) l_linenumber,
            CAST({_h(s, i, 'lq', 50)} + 1 AS DOUBLE) l_quantity,
            round({_u(s, i, 'le')} * 104000 + 900, 2) l_extendedprice,
            {_h(s, i, 'ld', 11)} / 100.0 l_discount,
            {_h(s, i, 'lt', 9)} / 100.0 l_tax,
            ['A','N','R'][{_h(s, i, 'lr', 3)} + 1] l_returnflag,
            ['O','F'][{_h(s, i, 'lf', 2)} + 1] l_linestatus,
            TIMESTAMP '1992-01-01' + to_days(CAST({_h(s, i, 'lsd', 3650)} AS INTEGER)) l_shipdate
            FROM range({n['lineitem']}) t(i)""",
        "events": f"""SELECT i event_id,
            TIMESTAMP '2024-01-01' + to_microseconds(CAST(i * 8640000 + {_h(s, i, 'et', 8640000)} AS BIGINT)) ts,
            {_h(s, i, 'eu', 5000)} user_id,
            ['signup','click','error','view','purchase'][{_h(s, i, 'ey', 5)} + 1] event_type,
            round({_u(s, i, 'ev')} * 200, 2) AS "value",
            '{{"k": ' || {_h(s, i, 'ek', 100)} || '}}' props
            FROM range({n['events']}) t(i)""",
    }


def tables(out_dir, scale):
    """Write the eight source tables as `<out_dir>/<table>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    con = _con()
    counts = row_counts(scale)
    for t, sql in _table_sql(counts).items():
        pq.write_table(con.sql(sql).arrow(), os.path.join(out_dir, f"{t}.parquet"))
    return counts


# pg DDL types of the generated columns, in table column order
_PG_TYPES = {"INTEGER": "integer", "BIGINT": "bigint", "DOUBLE": "double precision",
             "VARCHAR": "text", "TIMESTAMP": "timestamp without time zone"}


def _literal(col, typ):
    col = f'"{col}"'
    if typ == "VARCHAR":
        return f"'''' || replace({col}, '''', '''''') || ''''"
    if typ == "TIMESTAMP":
        return f"'''' || strftime({col}, '%Y-%m-%d %H:%M:%S.%f') || ''''"
    return f"CAST({col} AS VARCHAR)"


def sql_dump(tables_dir, path, seed):
    """Write a pg_dump-style file of the tables in `tables_dir`.

    Rows are ordered by ``hash(seed, key)``; returns the file's size.
    """
    con = _con()
    with open(path, "w", encoding="utf-8") as f:
        f.write("--\n-- PostgreSQL database dump\n--\n\n"
                "SET statement_timeout = 0;\n"
                "SET standard_conforming_strings = on;\n\n")
        for t in TABLES:
            src = f"read_parquet('{os.path.join(tables_dir, t + '.parquet')}')"
            cols = con.sql(f"DESCRIBE SELECT * FROM {src}").fetchall()
            names = [c[0] for c in cols]
            ddl = ",\n    ".join(f"{c[0]} {_PG_TYPES[c[1]]}" for c in cols)
            f.write(f"CREATE TABLE public.{t} (\n    {ddl}\n);\n\n")
            values = " || ', ' || ".join(_literal(c[0], c[1]) for c in cols)
            head = f"INSERT INTO public.{t} ({', '.join(names)}) VALUES ("
            order = ", ".join(f'"{c}"' for c in names)
            rows = con.sql(
                f"SELECT '{head}' || {values} || ');' FROM {src} "
                f"ORDER BY hash({seed}, {order}), {order}").fetchall()
            f.write("\n".join(r[0] for r in rows))
            f.write("\n\n")
        for child, ccol, parent, pcol in FOREIGN_KEYS:
            f.write(f"ALTER TABLE ONLY public.{child}\n"
                    f"    ADD CONSTRAINT {child}_{ccol}_fkey FOREIGN KEY ({ccol}) "
                    f"REFERENCES public.{parent}({pcol});\n\n")
        f.write("--\n-- PostgreSQL database dump complete\n--\n")
    return os.path.getsize(path)


def corpus(path, docs, seed):
    """Write a `docs`-row documents parquet (doc_id, text, lang, source, n_chars).

    Per doc, from the seed: 2-6 lines of 6-14 vocabulary words; 10% get
    an HTML wrapper, 3% an email address, 2% a phone number, 5% a
    repeated line, 3% are one short line (gopher rejects) and 3% are a
    low-entropy repetition. Then 5% of the docs are replaced by an exact
    copy of an earlier doc and 5% by a near copy (last word changed).
    """
    rng = np.random.Generator(np.random.PCG64(seed))
    n_lines = rng.integers(2, 7, docs)
    n_words = rng.integers(6, 15, int(n_lines.sum()))
    words = rng.integers(0, len(VOCAB), int(n_words.sum()))
    kind = rng.random(docs)
    dup = rng.random(docs)
    src = (rng.random(docs) * np.arange(docs)).astype(np.int64)
    texts, w, ln = [], 0, 0
    for d in range(docs):
        lines = []
        for n in n_words[ln:ln + n_lines[d]]:
            lines.append(" ".join(VOCAB[x] for x in words[w:w + n]))
            w += n
        ln += n_lines[d]
        body, k = "\n".join(lines), kind[d]
        if k < 0.03:
            body = lines[0][:30]
        elif k < 0.06:
            body = "data data data " * 30
        elif k < 0.16:
            body = "<html><body><p>" + "</p><p>".join(lines) + "</p></body></html>"
        elif k < 0.19:
            body += f"\ncontact {lines[0][:5]}{d}@mail.example.org"
        elif k < 0.21:
            body += f"\ncall 555-01{d % 100:02d}-{d % 10000:04d}"
        elif k < 0.26:
            body += f"\n{lines[0]}\n{lines[0]}"
        texts.append(body)
    for d in range(1, docs):
        if dup[d] < 0.05:
            texts[d] = texts[src[d]]
        elif dup[d] < 0.10:
            texts[d] = re.sub(r"[a-z]+$", "zeta", texts[src[d]])
    langs = ["en", "en", "en", "zh", "de", "fr", "es"]
    table = pa.table({
        "doc_id": pa.array(np.arange(docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([langs[x] for x in rng.integers(0, len(langs), docs)], pa.string()),
        "source": pa.array([f"src{d % 20}" for d in range(docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(table, path)
    return docs
