"""Output checks: each workload's outputs against expectations computed
here, in DuckDB and Python, independently of the program under test.

* dump_full: every restored table equals the masked source as a
  multiset of rows.
* dumpfile_subset: the restored tables equal the FK closure of the 10%
  lineitem sample (masked), and every FK of the restored rows resolves.
* corpus_chain: the output digest is the same on every repetition and
  equals the digest recorded in digests.json for this seed and size.
* dump workloads, security: every stored chunk decrypts with the key,
  and neither the stored bytes nor the decrypted text contains a sampled
  source value of a masked column.

`run` returns (name, ok, detail) verdicts plus the measured
stored-bytes-per-text-byte ratio (and, on corpus_chain, the digest).
"""

import glob
import json
import os
import zlib

import duckdb
from cryptography.hazmat.primitives.ciphers.aead import AESGCM

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
DIGESTS = os.path.join(HERE, "digests.json")

FIRST_NAMES = ["Alice", "Bob", "Carol", "David", "Emma", "Frank", "Grace", "Henry",
               "Iris", "Jack", "Karen", "Liam", "Mona", "Noah", "Olga", "Peter"]

# masked column -> DuckDB SQL giving the masked value, written from the
# transformers' documented behaviour (email, first-name, random)
MASKS = {
    ("customer", "c_name"):
        "CASE WHEN length(c_name) = 0 THEN c_name "
        "ELSE substr(md5(c_name), 1, 12) || '@example.com' END",
    ("supplier", "s_name"):
        "CASE WHEN length(s_name) = 0 THEN s_name ELSE "
        + "[" + ", ".join(f"'{n}'" for n in FIRST_NAMES) + "]"
        + "[ascii(substr(md5(s_name), 1, 1)) % 16 + 1] END",
    ("events", "props"):
        "CASE WHEN length(props) = 0 THEN props ELSE substr(repeat(md5(props), "
        "CAST(ceil(length(props) / 32.0) AS INTEGER) + 1), 1, length(props)) END",
}

SUBSET_PERCENT = 10


def _masked_select(con, table, src):
    cols = [c[0] for c in con.sql(f"DESCRIBE SELECT * FROM {src}").fetchall()]
    exprs = [f"{MASKS[(table, c)]} AS {c}" if (table, c) in MASKS else f'"{c}"' for c in cols]
    return f"SELECT {', '.join(exprs)} FROM {src}"


def _expected_views(con, tables_dir, workload):
    """Creates one view `exp_<table>` per table the restore must produce."""
    src = {t: f"read_parquet('{os.path.join(tables_dir, t + '.parquet')}')" for t in gen.TABLES}
    if workload == "dump_full":
        keep = {t: src[t] for t in gen.TABLES}
    else:
        # systematic 10% sample of lineitem on l_orderkey, closed child -> parent
        modulo = 100 // SUBSET_PERCENT
        keep = {"lineitem": f"(SELECT * FROM {src['lineitem']} WHERE l_orderkey % {modulo} = 0)"}
        for child, ccol, parent, pcol in gen.FOREIGN_KEYS:
            keep[parent] = (f"(SELECT * FROM {src[parent]} WHERE {pcol} IN "
                            f"(SELECT {ccol} FROM {keep[child]}))")
    for t, q in keep.items():
        con.execute(f"CREATE OR REPLACE VIEW exp_{t} AS {_masked_select(con, t, q)}")
    return sorted(keep)


def _typed(col, typ, is_text):
    """`col` of a restored table as the expected type `typ`. A timestamp
    may come back as text, in SQL form or in ISO-8601 form, whose
    `HH:MM` drops zero seconds.
    """
    if typ == "TIMESTAMP" and is_text:
        iso = f"replace({col}, 'T', ' ')"
        return (f"CAST(CASE WHEN length({col}) = 16 THEN {iso} || ':00' ELSE {iso} END "
                f"AS TIMESTAMP) AS {col}")
    return f"CAST({col} AS {typ}) AS {col}"


def _compare_restore(con, restore_dir, tables):
    """Problems found comparing `restore_dir/<table>` with `exp_<table>`."""
    present = sorted(os.path.basename(p) for p in glob.glob(os.path.join(restore_dir, "*")))
    problems = []
    if present != tables:
        problems.append(f"restored tables {present}, expected {tables}")
    for t in tables:
        if t not in present:
            continue
        types = con.sql(f"DESCRIBE SELECT * FROM exp_{t}").fetchall()
        restored = f"read_parquet('{os.path.join(restore_dir, t)}/*.parquet')"
        as_text = {c for c, typ, *_ in con.sql(f"DESCRIBE SELECT * FROM {restored}").fetchall()
                   if typ == "VARCHAR"}
        got = (f"SELECT {', '.join(_typed(c, typ, c in as_text) for c, typ, *_ in types)} "
               f"FROM {restored}")
        cols = ", ".join(c for c, *_ in types)
        missing = con.sql(f"SELECT count(*) FROM (SELECT {cols} FROM exp_{t} "
                          f"EXCEPT ALL {got})").fetchone()[0]
        extra = con.sql(f"SELECT count(*) FROM ({got} EXCEPT ALL "
                        f"SELECT {cols} FROM exp_{t})").fetchone()[0]
        if missing or extra:
            problems.append(f"{t}: {missing} expected rows missing, {extra} unexpected rows")
    return problems


def _dangling_fks(con, restore_dir):
    problems = []
    for child, ccol, parent, pcol in gen.FOREIGN_KEYS:
        c = f"read_parquet('{os.path.join(restore_dir, child)}/*.parquet')"
        p = f"read_parquet('{os.path.join(restore_dir, parent)}/*.parquet')"
        n = con.sql(f"SELECT count(*) FROM {c} WHERE {ccol} NOT IN (SELECT {pcol} FROM {p})"
                    ).fetchone()[0]
        if n:
            problems.append(f"{n} {child}.{ccol} values have no {parent}.{pcol}")
    return problems


def _decode(blob, key):
    raw = AESGCM(key.encode()[:32].ljust(32, b"\0")).decrypt(blob[:12], blob[12:], None)
    return zlib.decompress(raw)


def _security(store_dir, key, sample):
    """(problems, stored bytes, text bytes) of one stored dump."""
    problems, stored, text = [], 0, 0
    needles = [v.encode() for v in sample]
    for part in sorted(glob.glob(os.path.join(store_dir, "*.dump"))):
        with open(part, "rb") as f:
            blob = f.read()
        stored += len(blob)
        try:
            plain = _decode(blob, key)
        except Exception as e:  # a chunk that does not decrypt is a failure
            problems.append(f"{os.path.basename(part)} does not decode: {e!r}")
            continue
        text += len(plain)
        for hay in (blob, plain):
            hits = [n for n in needles if n in hay]
            if hits:
                problems.append(f"{os.path.basename(part)} holds source value {hits[0]!r}")
    if not stored:
        problems.append("no stored chunks")
    return problems, stored, text


def _masked_sample(con, tables_dir, workload):
    """Up to 20 source values per masked column, from rows the dump holds."""
    out = []
    for (t, c) in MASKS:
        view = f"read_parquet('{os.path.join(tables_dir, t + '.parquet')}')"
        if workload == "dumpfile_subset":
            if t != "customer":
                continue
            view = "(SELECT c.* FROM exp_customer e JOIN " + view + \
                   " c ON c.c_custkey = e.c_custkey)"
        out += [r[0] for r in con.sql(
            f"SELECT DISTINCT {c} FROM {view} ORDER BY hash({c}) LIMIT 20").fetchall()]
    return out


def corpus_digest(con, out_dir):
    """md5 over the output rows, each rendered as text, in sorted order."""
    src = f"read_parquet('{out_dir}/*.parquet')"
    cols = [c[0] for c in con.sql(f"DESCRIBE SELECT * FROM {src}").fetchall()]
    row = " || chr(31) || ".join(f"coalesce(CAST(\"{c}\" AS VARCHAR), '<null>')" for c in cols)
    return con.sql(f"SELECT md5(string_agg(r, chr(30) ORDER BY r)), count(*) "
                   f"FROM (SELECT {row} AS r FROM {src})").fetchone()


def recorded_digest(docs, seed):
    if not os.path.exists(DIGESTS):
        return None
    with open(DIGESTS) as f:
        return json.load(f).get(str(docs), {}).get(str(seed))


def run(workload, seed, work, key, result, docs=None):
    con = duckdb.connect()
    con.execute("SET threads = 2")
    verdicts = []
    labels = [it["label"] for it in result["iterations"]]
    if "traced" in result:
        labels.append("traced")
    if workload == "corpus_chain":
        digests = {}
        for label in labels:
            digest, rows = corpus_digest(con, os.path.join(work, "corpus", label))
            digests[label] = digest
            verdicts.append((f"{label}: output rows", rows > 0, f"{rows} rows"))
        distinct = set(digests.values())
        verdicts.append(("output digest equal on every repetition", len(distinct) == 1,
                         str(sorted(distinct))))
        want = recorded_digest(docs, seed)
        if want is not None:
            got = digests[labels[0]]
            verdicts.append(("output digest equals the recorded one", got == want,
                             f"{got} vs recorded {want}"))
        docs_file = os.path.join(work, "inputs", "main", "docs.parquet")
        text = con.sql(f"SELECT sum(strlen(text)) FROM read_parquet('{docs_file}')"
                       ).fetchone()[0]
        out = sum(os.path.getsize(p) for p in
                  glob.glob(os.path.join(work, "corpus", labels[0], "*.parquet")))
        return verdicts, {"digest": digests[labels[0]], "stored_bytes_per_text_byte": out / text}
    tables_dir = os.path.join(work, "inputs", "main", "tables")
    tables = _expected_views(con, tables_dir, workload)
    sample = _masked_sample(con, tables_dir, workload)
    stored = text = 0
    for label in labels:
        restore_dir = os.path.join(work, "restore", label)
        problems = _compare_restore(con, restore_dir, tables)
        if workload == "dumpfile_subset" and not problems:
            problems = _dangling_fks(con, restore_dir)
        verdicts.append((f"{label}: restored tables as expected", not problems,
                         "; ".join(problems)))
        problems, s, t = _security(os.path.join(work, "store", label), key, sample)
        verdicts.append((f"{label}: stored chunks decrypt and hold no masked source value",
                         not problems, "; ".join(problems)))
        if label != "traced":
            stored, text = stored + s, text + t
    return verdicts, {"stored_bytes_per_text_byte": stored / text if text else None}
