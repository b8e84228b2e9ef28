"""Output checks, each against a computation made apart from graft.

- hits_olap: DuckDB over the same parquet files (hits_queries.py says
  how each query is compared).
- pipeline_sf01: the Registry's oracle SQL run in DuckDB over the same
  inputs; q108 (no oracle) by a named property.
- ingest_http: a fold computed in Python from the generated batches.

`check()` returns (attempted, failed, unexpected, notes). A wrong or
missing result, or an operation that raised, counts as failed.
`unexpected` counts the failures other than the known fault the
collapsing probe reproduces.
"""
import collections
import datetime
import decimal
import glob
import json
import math
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import hits_queries


def _con(threads=4):
    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    con.execute("SET TimeZone = 'UTC'")
    return con


def canon(v):
    """One representation for a value from graft's JSON or DuckDB."""
    if v is None or type(v) in (int, str, float):
        return v
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, decimal.Decimal):
        return int(v) if v == v.to_integral_value() else float(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), canon(x)) for k, x in v.items()))
    return v


def same(a, b, rel=1e-6):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        try:
            a, b = float(a), float(b)
        except (TypeError, ValueError):
            return False
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=rel, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(same(x, y, rel) for x, y in zip(a, b))
    return a == b


def sort_key(row):
    """Row order that tolerates float noise: floats compare at 6
    significant digits, None first."""
    return tuple((0, "") if v is None else (1, f"{v:.6g}") if type(v) is float
                 else (1, v) for v in row)


def wrap64(v):
    v = int(v) & (2 ** 64 - 1)
    return v - 2 ** 64 if v >= 2 ** 63 else v


# ---------------------------------------------------------------- hits

class Hits:
    def __init__(self, data):
        self.con = _con()
        self.con.execute(f"CREATE VIEW hits AS SELECT * FROM "
                         f"read_parquet('{data}/hits/*.parquet')")
        self.qs = hits_queries.queries(gen.EXAMPLE_RU_HASH, gen.HITS_ROWS)
        self.cache = {}

    def table(self, i):
        """The DuckDB result for query i, materialized once as g<i>."""
        if i not in self.cache:
            q = self.qs[i]
            cols = [d[0] for d in self.con.execute(
                f"SELECT * FROM ({q['duck']}) LIMIT 0").description]
            names = ", ".join(f"c{j}" for j in range(len(cols)))
            self.con.execute(f"CREATE TEMP TABLE g{i} AS SELECT * FROM "
                             f"({q['duck']}) AS t({names})")
            self.cache[i] = len(cols)
        return f"g{i}"

    def rows(self, sql, params=None):
        return [tuple(canon(v) for v in r) for r in self.con.execute(sql, params or []).fetchall()]

    def cmp_row(self, got, exp, c):
        if len(got) != len(exp):
            return f"width {len(got)} != {len(exp)}"
        for j, (g, e) in enumerate(zip(got, exp)):
            if j in c.get("free", ()):
                continue
            if j in c.get("approx", ()):
                if e == 0 and g == 0:
                    continue
                if g is None or abs(float(g) - float(e)) > hits_queries.UNIQ_REL_ERR * abs(float(e)):
                    return f"col {j}: uniq {g} vs exact {e}"
            elif j in c.get("wrap64", ()):
                if wrap64(g) != wrap64(e):
                    return f"col {j}: {g} != {e} (mod 2^64)"
            elif not same(g, e):
                return f"col {j}: {g!r} != {e!r}"
        return None

    def lookup(self, g, keys, got):
        """Each returned row's group row from g, by key columns."""
        kc = ", ".join(f"c{k}" for k in keys)
        self.con.execute(f"CREATE OR REPLACE TEMP TABLE k AS SELECT {kc} FROM {g} LIMIT 0")
        ph = ", ".join("?" for _ in keys)
        self.con.executemany(f"INSERT INTO k VALUES ({ph})",
                             [[r[k] for k in keys] for r in got])
        on = " AND ".join(f"{g}.c{k} IS NOT DISTINCT FROM k.c{k}" for k in keys)
        found = self.rows(f"SELECT DISTINCT {g}.* FROM {g} JOIN k ON {on}")
        return {tuple(r[k] for k in keys): r for r in found}

    def verify(self, i, header, got):
        q = self.qs[i]
        c = q["check"]
        kind = c["kind"]
        if kind == "rows":
            exp = self.rows(q["duck"])
            if len(got) != len(exp):
                return f"{len(got)} rows, expected {len(exp)}"
            if not c.get("ordered"):
                got, exp = sorted(got, key=sort_key), sorted(exp, key=sort_key)
            for g, e in zip(got, exp):
                bad = self.cmp_row(g, e, c)
                if bad:
                    return bad
            return None
        if kind == "ties":
            cand = self.rows(q["duck"])
            col = header.index(c["col"])
            vals = collections.Counter(r[col] for r in got)
            must = collections.Counter(v for v, m in cand if m)
            allowed = collections.Counter(v for v, _ in cand)
            if len(got) != min(c["limit"], sum(allowed.values())):
                return f"{len(got)} rows, expected {c['limit']}"
            if must - vals:
                return f"missing rows {list((must - vals).elements())[:3]}"
            if vals - allowed:
                return f"rows past the limit {list((vals - allowed).elements())[:3]}"
            return None
        g = self.table(i)
        n = self.rows(f"SELECT count(*) FROM {g}")[0][0]
        if len(got) != min(c["limit"], n):
            return f"{len(got)} rows, expected {min(c['limit'], n)}"
        found = self.lookup(g, c["keys"], got) if got else {}
        for r in got:
            e = found.get(tuple(r[k] for k in c["keys"]))
            if e is None:
                return f"no group {tuple(r[k] for k in c['keys'])}"
            bad = self.cmp_row(r, e, c)
            if bad:
                return bad
        if kind == "topk":
            m = c["metric"]
            top = [r[0] for r in self.rows(
                f"SELECT c{m} FROM {g} ORDER BY c{m} DESC LIMIT {c['limit']}")]
            vals = [r[m] for r in got]
            if any(a < b for a, b in zip(vals, vals[1:])):
                return "not in descending order"
            if m in c.get("approx", ()):
                tol = hits_queries.UNIQ_REL_ERR
                if top and any(found[tuple(r[k] for k in c["keys"])][m] <
                               top[-1] * (1 - 2 * tol) for r in got):
                    return "a key below the exact top-n cut"
            elif not same(tuple(sorted(vals)), tuple(sorted(top))):
                return f"top values {vals[:5]} != {top[:5]}"
        return None

    def run(self, out, ops):
        fails = []
        for o in ops:
            i = int(o["op"][1:]) - 1
            path = os.path.join(out, "results", f"{o['op']}.r{o['round']}.jsonl")
            if o["error"] is not None or not os.path.exists(path):
                fails.append(f"{o['op']} r{o['round']}: error {o['error']}")
                continue
            with open(path, encoding="utf-8") as f:
                header = json.loads(f.readline())
                got = [tuple(canon(v) for v in json.loads(x)) for x in f if x.strip()]
            bad = self.verify(i, header, got)
            if bad:
                fails.append(f"{o['op']} r{o['round']}: {bad}")
        return fails


# ---------------------------------------------------------------- pipeline

Q108_SQL = """SELECT doc_id,
  length(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS n_words,
  length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS n_alnum
FROM documents"""


def _arrow(con, sql):
    """A result as an Arrow table with its columns in name order."""
    t = con.execute(sql).arrow()
    return t.select(sorted(t.column_names))


def _sorted(t):
    """Rows in a float-noise-proof order: by every non-float column,
    then by the float columns (rows that tie on all non-float columns
    and swap on a float within tolerance compare equal either way)."""
    typ = {f.name: f.type for f in t.schema}
    plain = [n for n in t.column_names
             if not pa.types.is_floating(typ[n]) and not pa.types.is_nested(typ[n])]
    floats = [n for n in t.column_names if pa.types.is_floating(typ[n])]
    keys = plain + floats
    return t.sort_by([(k, "ascending") for k in keys]) if keys else t


def _column_diff(name, a, b):
    """None when two Arrow columns hold the same values (floats within a
    relative 1e-6), else a description of the first difference."""
    ta, tb = a.type, b.type
    if pa.types.is_floating(ta) or pa.types.is_floating(tb):
        x = np.asarray(a.to_numpy(zero_copy_only=False), dtype=float)
        y = np.asarray(b.to_numpy(zero_copy_only=False), dtype=float)
        ok = np.isclose(x, y, rtol=1e-6, atol=1e-9, equal_nan=True)
    elif pa.types.is_timestamp(ta) and pa.types.is_timestamp(tb):
        x = a.cast(pa.timestamp("us", tz=ta.tz)).cast(pa.int64()).to_numpy(zero_copy_only=False)
        y = b.cast(pa.timestamp("us", tz=tb.tz)).cast(pa.int64()).to_numpy(zero_copy_only=False)
        ok = x == y
    elif (pa.types.is_integer(ta) or pa.types.is_boolean(ta)) and \
            (pa.types.is_integer(tb) or pa.types.is_boolean(tb)):
        ok = a.cast(pa.int64()).to_numpy(zero_copy_only=False) == \
            b.cast(pa.int64()).to_numpy(zero_copy_only=False)
    elif pa.types.is_string(ta) and pa.types.is_string(tb):
        ok = np.asarray(a.to_pylist(), dtype=object) == np.asarray(b.to_pylist(), dtype=object)
    else:
        xs, ys = a.to_pylist(), b.to_pylist()
        ok = np.array([same(canon(x), canon(y)) for x, y in zip(xs, ys)], dtype=bool)
    if bool(np.all(ok)):
        return None
    i = int(np.argmin(ok))
    return f"column {name} row {i}: {a[i].as_py()!r} != {b[i].as_py()!r}"


def pipeline(data, out, ops):
    con = _con()
    for t in ("documents", "embeddings", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/full/{t}.parquet'")
    with open(os.path.join(out, "oracle.json")) as f:
        oracle = json.load(f)
    # oracle results depend only on the inputs: kept beside them
    cache = os.path.join(data, "expected")
    os.makedirs(cache, exist_ok=True)
    expected = {}
    fails = []
    for o in ops:
        name = o["op"]
        res = os.path.join(out, "results", f"{name}.r{o['round']}")
        if o["error"] is not None or not glob.glob(f"{res}/*.parquet"):
            fails.append(f"{name} r{o['round']}: error {o['error']}")
            continue
        got = _sorted(_arrow(con, f"SELECT * FROM read_parquet('{res}/*.parquet')"))
        if name == "q108_bpe_tokenize":
            bad = q108_property(con, got)
        else:
            if name not in expected:
                path = os.path.join(cache, f"{name}.parquet")
                if not os.path.exists(path):
                    pq.write_table(_arrow(con, oracle[name]), path + ".tmp")
                    os.replace(path + ".tmp", path)
                expected[name] = _sorted(pq.read_table(path))
            exp = expected[name]
            bad = None
            if got.column_names != exp.column_names:
                bad = f"columns {got.column_names} != {exp.column_names}"
            elif got.num_rows != exp.num_rows:
                bad = f"{got.num_rows} rows, expected {exp.num_rows}"
            else:
                for c in got.column_names:
                    bad = _column_diff(c, got.column(c), exp.column(c))
                    if bad:
                        break
        if bad:
            fails.append(f"{name} r{o['round']}: {bad}")
    return fails


def q108_property(con, got):
    """Every word yields at least one BPE token and no token is shorter
    than one character: n_words <= n_bpe_tokens <= alphanumeric chars,
    with n_words exact."""
    exp = {r[0]: r for r in con.execute(Q108_SQL).fetchall()}
    if got.num_rows != len(exp):
        return f"{got.num_rows} rows, expected {len(exp)}"
    for doc, toks, words in zip(*(got.column(c).to_pylist()
                                  for c in ("doc_id", "n_bpe_tokens", "n_words"))):
        _, n_words, n_alnum = exp[doc]
        if words != n_words or not n_words <= toks <= n_alnum:
            return f"doc {doc}: words {words}/{n_words}, tokens {toks}, chars {n_alnum}"
    return None


# ---------------------------------------------------------------- ingest

def _batches(data, engine):
    d = os.path.join(data, "full", engine)
    out = []
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f)) as fh:
            out.append([ln.split("\t") for ln in fh.read().splitlines()])
    return out


def ingest_expected(data):
    """Expected response bodies, by operation name, from a fold of the
    generated rows computed here."""
    exp = {}
    b = {e: _batches(data, e) for e in gen.ENGINES}
    s_rows, r_rows, c_rows = [], [], []
    for i in range(len(b["summing"])):
        s_rows += b["summing"][i]
        r_rows += b["replacing"][i]
        c_rows += b["collapsing"][i]
        exp[f"read.summing.b{i:02d}"] = [
            (sum(int(r[2]) for r in s_rows), sum(int(r[3]) for r in s_rows),
             len({r[1] for r in s_rows}))]
        exp[f"read.replacing.b{i:02d}"] = [
            (len({r[1] for r in r_rows}), max(int(r[2]) for r in r_rows))]
        exp[f"read.collapsing.b{i:02d}"] = [
            (sum(int(r[3]) for r in c_rows),
             sum(int(r[2]) * int(r[3]) for r in c_rows))]
    sums = {}
    for _, k, hits, cost in s_rows:
        a = sums.setdefault(int(k), [0, 0])
        a[0] += int(hits)
        a[1] += int(cost)
    exp["final.summing"] = [(k, a[0], a[1]) for k, a in sorted(sums.items())]
    best = {}
    for _, k, ver, v in r_rows:
        if int(k) not in best or int(ver) > best[int(k)][0]:
            best[int(k)] = (int(ver), v)
    exp["final.replacing"] = [(k, ver, v) for k, (ver, v) in sorted(best.items())]
    sign = collections.Counter()
    last_pos = {}
    for _, k, val, sg in c_rows:
        sign[int(k)] += int(sg)
        if int(sg) > 0:
            last_pos[int(k)] = int(val)
    exp["final.collapsing"] = [(k, last_pos[k], sign[k]) for k in sorted(sign) if sign[k] > 0]
    exp[PROBE] = [(1, 3, 1)]
    return exp


# the fixed-input collapsing update (state row cancelled, then a new
# state row written): the last positive row must survive
PROBE = "probe.collapsing_update"


def _parse_tsv(text):
    rows = []
    for ln in text.splitlines():
        rows.append(tuple(int(x) if x.lstrip("-").isdigit() else x for x in ln.split("\t")))
    return rows


def ingest(data, out, ops):
    exp = ingest_expected(data)
    fails = []
    for o in ops:
        name = o["op"]
        path = os.path.join(out, "results", f"{name}.r{o['round']}.tsv")
        if o["error"] is not None or not os.path.exists(path):
            fails.append(f"{name} r{o['round']}: error {o['error']}")
            continue
        with open(path, encoding="utf-8") as f:
            got = _parse_tsv(f.read())
        want = exp.get(name, [])
        if got != want:
            shown = [r for r in got if r not in want][:2]
            tag = "expected-fault " if name == PROBE else ""
            fails.append(f"{tag}{name} r{o['round']}: {len(got)} rows vs "
                         f"{len(want)}; e.g. {shown} vs {want[:2]}")
    return fails


def check(workload, data, out, ops):
    ops = [o for o in ops if o["op"] != "__round__"]
    if workload == "hits_olap":
        fails = Hits(data).run(out, ops)
    elif workload == "pipeline_sf01":
        fails = pipeline(data, out, ops)
    else:
        fails = ingest(data, out, ops)
    unexpected = sum(1 for f in fails if not f.startswith("expected-fault"))
    return len(ops), len(fails), unexpected, fails
