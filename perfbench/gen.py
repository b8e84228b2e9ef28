"""Seeded input generators for the three workloads.

Everything here is computed by DuckDB or plain Python from `--seed`, so the
same seed gives byte-for-byte the same inputs, and the engine under test
receives only the generated files.

- `hits(...)`: a synthetic web-analytics `hits` table with the column set and
  marginals of graft's Bench43 generator (93+ columns, CounterID 34 on ~5% of
  rows, SearchPhrase ~10% non-empty, ...), sorted by (CounterID, EventDate)
  like a MergeTree part and split into range files.
- `pipeline(...)`: the `documents`, `embeddings` and `events` tables the
  pipeline queries read, shaped like the TESTDATA fixtures.
- `ingest_batches(...)`: TabSeparated INSERT batches for the three
  MergeTree engines, with distinct versions per key.
"""
import hashlib
import os
import random

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

HITS_ROWS = 100_000
HITS_FILES = 8
# pipeline_sf01's warm-up inputs, run once in set-up
TINY_PIPELINE = dict(docs=300, vecs=200, events=3_000)
# Referer hosts shared by many rows, so that q29's HAVING keeps groups
REFERER_HOSTS = ["www.yandex.ru", "google.com", "www.vk.com", "mail.ru", "www.example.org"]


def _connect():
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute("SET TimeZone = 'UTC'")
    return con


def half_md5(s):
    """halfMD5 as graft computes it: the first 8 MD5 bytes, big-endian,
    read as a signed 64-bit integer."""
    return int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big",
                          signed=True)


EXAMPLE_RU_HASH = half_md5("http://example.ru/")


def _hits_select(rows, seed):
    def h(k):
        # signed 64-bit draw: the low 63 bits of DuckDB's hash, recentred
        return f"(CAST(hash(i, {k}, {seed}) >> 1 AS BIGINT) - 4611686018427387904)"

    def p(k, m):
        return f"CAST(hash(i, {k}, {seed}) % {m} AS BIGINT)"

    def pi(k, m):
        return f"CAST(hash(i, {k}, {seed}) % {m} AS INTEGER)"

    def pick(k, m, values, typ="INTEGER"):
        arr = "[" + ", ".join(str(v) for v in values) + "]"
        return f"CAST({arr}[{p(k, m)} + 1] AS {typ})"

    res_w = [1366, 1920, 1280, 1024, 768, 360, 1440, 1600]
    res_h = [768, 1080, 800, 768, 1024, 640, 900, 1200]
    win_w = [1366, 1903, 1263, 1008, 751, 360, 1423, 1583]
    win_h = [667, 955, 700, 668, 923, 560, 800, 1100]
    ev = (f"(TIMESTAMPTZ '2013-07-01 00:00:00+00' + "
          f"to_seconds({p(5, 31 * 86400)}))")
    cols = [
        ("WatchID", h(1)),
        ("JavaEnable", pi(2, 2)),
        ("Title", f"CASE WHEN {p(3, 100)} < 2 THEN 'Яндекс страница ' || {p(4, 100000)} "
                  f"ELSE 'Title ' || {p(4, 100000)} END"),
        ("GoodEvent", "CAST(1 AS INTEGER)"),
        ("EventTime", ev),
        ("EventDate", f"CAST({ev} AS DATE)"),
        ("CounterID", f"CASE WHEN {p(6, 100)} < 5 THEN CAST(34 AS BIGINT) ELSE {p(7, 5000)} END"),
        ("ClientIP", p(8, 1 << 32)),
        ("RegionID", p(9, 1000)),
        ("UserID", f"(CAST(hash(hash(i, 10, {seed}) % 1700000, {seed}) >> 1 AS BIGINT) "
                   f"- 4611686018427387904)"),
        ("CounterClass", "CAST(0 AS INTEGER)"),
        ("OS", pi(11, 100)),
        ("UserAgent", pi(12, 100)),
        ("URL", f"CASE WHEN {p(13, 100)} < 8 THEN 'http://yandex.ru/metrika/page/' || {p(14, 100000)} "
                f"WHEN {p(13, 100)} < 13 THEN 'http://m.yandex.ru/page/' || {p(14, 1000000)} "
                f"WHEN {p(13, 100)} < 14 THEN '' "
                f"ELSE 'http://example.com/page/' || {p(14, 1000000)} END"),
        ("Referer", f"CASE WHEN {p(15, 2)} = 0 THEN '' "
                    f"WHEN {p(65, 100)} < 20 THEN 'http://' || "
                    f"{REFERER_HOSTS}[{p(66, len(REFERER_HOSTS))} + 1] || '/ref/' || {p(17, 1000)} "
                    f"ELSE 'http://www.r' || {p(16, 100000)} "
                    f"|| '.example.org/ref/' || {p(17, 1000)} END"),
        ("Refresh", f"CAST({p(18, 50)} = 0 AS INTEGER)"),
        ("RefererCategoryID", pi(19, 100)),
        ("RefererRegionID", p(20, 1000)),
        ("URLCategoryID", pi(21, 100)),
        ("URLRegionID", p(22, 1000)),
        ("ResolutionWidth", pick(23, 8, res_w)),
        ("ResolutionHeight", pick(23, 8, res_h)),
        ("ResolutionDepth", "CAST(24 AS INTEGER)"),
        ("FlashMajor", pi(24, 12)),
        ("FlashMinor", pi(25, 10)),
        ("FlashMinor2", "''"),
        ("NetMajor", "CAST(0 AS INTEGER)"),
        ("NetMinor", "CAST(0 AS INTEGER)"),
        ("UserAgentMajor", pi(26, 30)),
        ("CookieEnable", "CAST(1 AS INTEGER)"),
        ("JavascriptEnable", "CAST(1 AS INTEGER)"),
        ("IsMobile", f"CAST({p(27, 4)} = 0 AS INTEGER)"),
        ("MobilePhone", pi(28, 10)),
        ("MobilePhoneModel", f"CASE WHEN {p(29, 100)} < 5 THEN "
                             f"['iPhone 5', 'Galaxy S4', 'Lumia 920', 'Nexus 4'][{p(30, 4)} + 1] "
                             f"ELSE '' END"),
        ("Params", "''"),
        ("IPNetworkID", p(31, 100000)),
        ("TraficSourceID", f"CAST({p(32, 12)} - 1 AS INTEGER)"),
        ("SearchEngineID", pi(33, 50)),
        ("SearchPhrase", f"CASE WHEN {p(34, 100)} < 10 THEN 'search phrase ' || {p(35, 100000)} "
                         f"ELSE '' END"),
        ("AdvEngineID", f"CASE WHEN {p(36, 100)} < 2 THEN CAST({p(37, 20)} + 1 AS INTEGER) "
                        f"ELSE CAST(0 AS INTEGER) END"),
        ("IsArtifical", f"CAST({p(38, 100)} = 0 AS INTEGER)"),
        ("WindowClientWidth", pick(23, 8, win_w)),
        ("WindowClientHeight", pick(23, 8, win_h)),
        ("ClientTimeZone", "CAST(-180 AS INTEGER)"),
        ("ClientEventTime", ev),
        ("SilverlightVersion1", "CAST(0 AS INTEGER)"),
        ("SilverlightVersion2", "CAST(0 AS INTEGER)"),
        ("SilverlightVersion3", "CAST(0 AS BIGINT)"),
        ("SilverlightVersion4", "CAST(0 AS INTEGER)"),
        ("PageCharset", "'utf-8'"),
        ("CodeVersion", p(39, 1000)),
        ("IsLink", f"CAST({p(40, 10)} = 0 AS INTEGER)"),
        ("IsDownload", f"CAST({p(41, 100)} = 0 AS INTEGER)"),
        ("IsNotBounce", f"CAST({p(42, 3)} = 0 AS INTEGER)"),
        ("FUniqID", h(43)),
        ("OriginalURL", "''"),
        ("HID", h(44)),
        ("IsOldCounter", "CAST(0 AS INTEGER)"),
        ("IsEvent", "CAST(0 AS INTEGER)"),
        ("IsParameter", "CAST(0 AS INTEGER)"),
        ("DontCountHits", f"CAST({p(45, 20)} = 0 AS INTEGER)"),
        ("WithHash", "CAST(0 AS INTEGER)"),
        ("HitColor", f"['K', 'G', 'P'][{p(46, 3)} + 1]"),
        ("LocalEventTime", ev),
        ("Age", pi(47, 80)),
        ("Sex", pi(48, 2)),
        ("Income", pi(49, 10)),
        ("Interests", pi(50, 1000)),
        ("Robotness", f"CAST({p(51, 50)} = 0 AS INTEGER)"),
        ("RemoteIP", p(52, 1 << 32)),
        ("WindowName", "CAST(-1 AS INTEGER)"),
        ("OpenerName", "CAST(-1 AS INTEGER)"),
        ("HistoryLength", pi(53, 30)),
        ("SocialNetwork", "''"),
        ("SocialAction", "''"),
        ("HTTPError", "CAST(0 AS INTEGER)"),
        ("SendTiming", p(54, 1000)),
        ("DNSTiming", p(55, 200)),
        ("ConnectTiming", p(56, 300)),
        ("ResponseStartTiming", p(57, 800)),
        ("ResponseEndTiming", p(58, 1500)),
        ("FetchTiming", p(59, 2000)),
        ("SocialSourceNetworkID", "CAST(0 AS INTEGER)"),
        ("SocialSourcePage", "''"),
        ("ParamPrice", "CAST(0 AS INTEGER)"),
        ("ParamOrderID", "''"),
        ("OpenstatServiceName", "''"),
        ("OpenstatCampaignID", "''"),
        ("OpenstatAdID", "''"),
        ("OpenstatSourceID", "''"),
        ("UTMSource", "''"),
        ("UTMMedium", "''"),
        ("UTMCampaign", "''"),
        ("UTMContent", "''"),
        ("UTMTerm", "''"),
        ("FromTag", "''"),
        ("HasGCLID", "CAST(0 AS INTEGER)"),
        ("RefererHash", f"CASE WHEN {p(60, 1000)} = 0 THEN CAST({EXAMPLE_RU_HASH} AS BIGINT) "
                        f"ELSE {h(61)} END"),
        ("URLHash", f"CASE WHEN {p(62, 1000)} = 0 THEN CAST({EXAMPLE_RU_HASH} AS BIGINT) "
                    f"ELSE {h(63)} END"),
        ("CLID", p(64, 100000)),
    ]
    body = ",\n  ".join(f"{e} AS {n}" for n, e in cols)
    return f"SELECT\n  {body}\nFROM range({rows}) t(i)"


def hits(out_dir, rows, seed):
    """Write the hits table as HITS_FILES parquet files under out_dir,
    globally sorted by (CounterID, EventDate) so row-group statistics
    prune the CounterID = 34 date-range queries."""
    os.makedirs(out_dir, exist_ok=True)
    con = _connect()
    con.execute(f"CREATE TABLE hits AS {_hits_select(rows, seed)}")
    # CounterID ranges of equal width; CounterID is uniform on [0, 5000)
    width = 5000 // HITS_FILES
    for f in range(HITS_FILES):
        hi = "" if f == HITS_FILES - 1 else f"AND CounterID < {(f + 1) * width}"
        con.execute(
            f"COPY (SELECT * FROM hits WHERE CounterID >= {f * width} {hi} "
            f"ORDER BY CounterID, EventDate, WatchID) "
            f"TO '{out_dir}/part-{f:03d}.parquet' "
            f"(FORMAT PARQUET, ROW_GROUP_SIZE 16384)")
    con.close()


VOCAB = ("the a data spark table column row query join filter group agg "
         "sort order scan hash key value window stream batch merge part "
         "line customer vector fast slow big small").split()
LANGS = ["en"] * 4 + ["de", "fr", "es", "zh"] * 1
SOURCES = [f"src{i}" for i in range(20)]


def pipeline(out_dir, seed, docs=5000, vecs=2000, events=100000):
    """documents / embeddings / events, shaped like the sf0.1 fixtures:
    bag-of-words texts over a small vocabulary with a few exact
    duplicates, 64-d float embeddings clustered round ten label centroids,
    and a month of events for 1,500 users."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    con = _connect()
    texts = []
    for d in range(docs):
        if d > 0 and rng.random() < 0.002:
            texts.append(texts[rng.randrange(d)])
            continue
        n = rng.randint(8, 90)
        texts.append(" ".join(rng.choice(VOCAB) for _ in range(n)))
    pq.write_table(pa.table({
        "doc_id": pa.array(range(docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[rng.randrange(len(LANGS))] for _ in range(docs)]),
        "source": pa.array([SOURCES[d % 20] for d in range(docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))
    centroids = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(10)]
    vectors, labels = [], []
    for _ in range(vecs):
        label = rng.randrange(10)
        x = [c + rng.gauss(0, 0.6) for c in centroids[label]]
        norm = sum(e * e for e in x) ** 0.5
        vectors.append([e / norm for e in x])
        labels.append(label)
    pq.write_table(pa.table({
        "vec_id": pa.array(range(vecs), pa.int64()),
        "embedding": pa.array(vectors, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), os.path.join(out_dir, "embeddings.parquet"))
    con.execute(f"""
      CREATE TABLE events AS
      SELECT i AS event_id,
        TIMESTAMPTZ '2024-01-01 00:00:00+00'
          + to_microseconds(CAST(i * 25920000 + hash(i, 1, {seed}) % 25920000 AS BIGINT))
          AS ts,
        CAST(hash(i, 2, {seed}) % 1500 AS BIGINT) AS user_id,
        ['view', 'click', 'signup', 'purchase', 'error'][CAST(hash(i, 3, {seed}) % 5 AS BIGINT) + 1]
          AS event_type,
        round(CAST(hash(i, 4, {seed}) % 100000 AS DOUBLE) / 500, 2) AS value,
        '{{"k": ' || (hash(i, 5, {seed}) % 100) || '}}' AS props
      FROM range({events}) t(i)""")
    con.execute(f"COPY (SELECT * FROM events ORDER BY 1) TO "
                f"'{out_dir}/events.parquet' (FORMAT PARQUET)")
    con.close()


ENGINES = ("summing", "replacing", "collapsing")


def ingest_batches(seed, batches, rows, keys):
    """TabSeparated INSERT rows for each engine table, per batch.

    summing:    (d, k, hits, cost) over `keys` keys, positive values.
    replacing:  (d, k, ver, v) with a global version counter, so every
                key's versions are distinct and the fold has one answer.
    collapsing: (d, k, val, sign) states that open (+1) under a new key
                and later may close (-1, same val); a key never reopens.
    """
    rng = random.Random(seed * 7919 + 17)
    out = {e: [] for e in ENGINES}
    version = 0
    live = []
    next_key = 0

    def day(k):
        return f"2024-01-{1 + k % 28:02d}"

    for _ in range(batches):
        s_rows, r_rows, c_rows = [], [], []
        for _ in range(rows):
            k = rng.randrange(keys)
            s_rows.append((day(k), k, rng.randrange(1, 1000), rng.randrange(1, 100)))
            version += 1
            r_rows.append((day(k), k, version, f"v{version}"))
            if live and rng.random() < 0.3:
                j = rng.randrange(len(live))
                live[j], live[-1] = live[-1], live[j]
                ck, val = live.pop()
                c_rows.append((day(ck), ck, val, -1))
            else:
                ck, val = next_key, rng.randrange(1, 10000)
                next_key += 1
                live.append((ck, val))
                c_rows.append((day(ck), ck, val, 1))
        out["summing"].append(s_rows)
        out["replacing"].append(r_rows)
        out["collapsing"].append(c_rows)
    return out
