"""Seeded input generator for the benchmark workloads.

Every input is derived from one integer seed through numpy's PCG64
generator, so the same seed gives byte-identical files. The engine only
ever sees what is written here: parquet tables, wave files and the
statement log. Nothing is read from outside the benchmark's own output
directory. The lake tables have the sf0.1 row counts of `customer` and
`orders` and the TPC-H `nation` and `region` tables; the stream corpus
reproduces the measured properties of the sf0.1 `documents` fixture,
listed above `stream_inputs`.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes, fixed so that a run's work does not depend on the seed.
N_CUSTOMERS = 15000          # sf0.1 customer rows
N_ORDERS = 150000            # sf0.1 orders rows
LAND_BATCHES = 64            # MERGE source batches
LAND_ROWS = 20               # rows per MERGE batch
N_STATEMENTS = 800           # statement log length; a run uses a prefix
WAVES = 16                   # stream_ingest waves; a run uses a prefix
WAVE_DOCS = 1250             # documents per wave: the fixture in four waves
REF_DOCS = 5000              # classifier training prefix, the fixture's size
NEAR_DUP_SHARE = 0.05        # near-duplicate share of the sf0.1 fixture

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1),
           ("EGYPT", 4), ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3),
           ("INDIA", 2), ("INDONESIA", 2), ("IRAN", 4), ("IRAQ", 4),
           ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0), ("MOROCCO", 0),
           ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
           ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3),
           ("UNITED KINGDOM", 3), ("UNITED STATES", 1)]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EUROPE = 3


def rng_for(seed, stream):
    """Independent generator per input family: adding a family never
    shifts another family's draws."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.Generator(np.random.PCG64(int.from_bytes(digest[:8], "little")))


def write_parquet(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", write_statistics=True)


# ---------------------------------------------------------------- lake

def lake_tables(seed, out):
    r = rng_for(seed, "lake-tables")
    write_parquet(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())}), f"{out}/region.parquet")
    write_parquet(pa.table({
        "n_nationkey": pa.array(range(len(NATIONS)), pa.int32()),
        "n_name": pa.array([n for n, _ in NATIONS], pa.string()),
        "n_regionkey": pa.array([k for _, k in NATIONS], pa.int32())}),
        f"{out}/nation.parquet")
    keys = np.arange(1, N_CUSTOMERS + 1, dtype=np.int64)
    nations = r.integers(0, len(NATIONS), N_CUSTOMERS).astype(np.int32)
    acct = np.round(r.uniform(-999.99, 9999.99, N_CUSTOMERS), 2)
    segs = r.integers(0, len(SEGMENTS), N_CUSTOMERS)
    write_parquet(pa.table({
        "c_custkey": pa.array(keys),
        "c_name": pa.array([f"Customer#{k:09d}" for k in keys], pa.string()),
        "c_nationkey": pa.array(nations),
        "c_acctbal": pa.array(acct, pa.float64()),
        "c_mktsegment": pa.array([SEGMENTS[s] for s in segs], pa.string())}),
        f"{out}/customer.parquet")
    ocust = r.integers(1, N_CUSTOMERS + 1, N_ORDERS).astype(np.int64)
    # integral prices: sums are exact in every engine, so the aggregate
    # compares without a tolerance
    price = r.integers(900, 500000, N_ORDERS).astype(np.float64)
    write_parquet(pa.table({
        "o_orderkey": pa.array(np.arange(1, N_ORDERS + 1, dtype=np.int64)),
        "o_custkey": pa.array(ocust),
        "o_orderstatus": pa.array(r.choice(["F", "O", "P"], N_ORDERS), pa.string()),
        "o_totalprice": pa.array(price, pa.float64())}),
        f"{out}/orders.parquet")
    europe = {i for i, (_, reg) in enumerate(NATIONS) if reg == EUROPE}
    return [int(k) for k, n in zip(keys, nations) if n in europe]


COLS = "custkey, name, mktsegment, account_balance, nation"
_CTAS_BODY = (
    "SELECT c.c_custkey AS custkey, c.c_name AS name, "
    "c.c_mktsegment AS mktsegment, round(c.c_acctbal) AS account_balance, "
    "n.n_name AS nation FROM {customer} c "
    "JOIN {nation} n ON c.c_nationkey = n.n_nationkey "
    "JOIN {region} r ON r.r_regionkey = n.n_regionkey "
    "WHERE r.r_name = 'EUROPE'")
CTAS = ("CREATE OR REPLACE TABLE cust WITH (partitioning = ARRAY['mktsegment'], "
        "format = 'parquet', format_version = 3, merge_mode = 'merge-on-read') AS "
        + _CTAS_BODY.format(customer="tpch.bench.customer",
                            nation="tpch.bench.nation", region="tpch.bench.region"))
DUCK_CTAS = ("CREATE OR REPLACE TABLE main_t AS "
             + _CTAS_BODY.format(customer="customer", nation="nation", region="region"))
AGG = ("SELECT c.nation AS nation, round(sum(o.o_totalprice)) AS total_price "
       "FROM {cust} c JOIN {orders} o ON c.custkey = o.o_custkey "
       "WHERE c.mktsegment = '{seg}' GROUP BY c.nation ORDER BY total_price")
SEG_AGG = ("SELECT count(*) AS n, sum(account_balance) AS bal FROM {cust} "
           "WHERE mktsegment = '{seg}'")
MAINTENANCE = [
    ("optimize", "ALTER TABLE cust EXECUTE optimize(file_size_threshold => '100MB')"),
    ("expire", "ALTER TABLE cust EXECUTE expire_snapshots(retention_threshold => '0s')"),
    ("orphans", "ALTER TABLE cust EXECUTE remove_orphan_files(retention_threshold => '0s')"),
]


class _Keys:
    """The live key set of `main`, with O(1) seeded picks."""

    def __init__(self, keys):
        self.keys = list(keys)
        self.pos = {k: i for i, k in enumerate(self.keys)}

    def add(self, k):
        if k not in self.pos:
            self.pos[k] = len(self.keys)
            self.keys.append(k)

    def remove(self, k):
        i = self.pos.pop(k)
        last = self.keys.pop()
        if i < len(self.keys):
            self.keys[i] = last
            self.pos[last] = i

    def pick(self, r, n=None):
        if n is None:
            return self.keys[int(r.integers(0, len(self.keys)))]
        idx = r.choice(len(self.keys), n, replace=False)
        return [self.keys[int(i)] for i in idx]


def lake_statements(seed, out, europe_keys):
    """The statement log and its DuckDB twin.

    Entry 0 is the CTAS; the rest repeat one cycle whose parameters are
    seeded: eleven DML and read statements, the maintenance block, and
    on every second cycle the branch and tag block. Each entry has the graft SQL text (`sql`), its `kind`, and
    `duck`: statements that replay it on DuckDB tables (`main_t`,
    `dev_t`, `tag_t<n>`). Reads carry `check`: the DuckDB query or table
    whose rows the result must equal. A time-travel target is written
    `{after:J}`; the harness resolves it to the snapshot that was main's
    head right after entry J, and J is never older than the last
    `expire_snapshots`.
    """
    r = rng_for(seed, "lake-stmts")
    europe_nations = [n for n, reg in NATIONS if reg == EUROPE]
    live = _Keys(europe_keys)
    next_key = N_CUSTOMERS + 1
    land_rows = []
    stmts = []
    travel = []  # entries after which main's head is still time-travelable

    def add(kind, sql, duck=(), check=None, main_write=False):
        stmts.append(dict(kind=kind, sql=sql, duck=list(duck), check=check))
        if main_write:
            travel.append(len(stmts) - 1)

    def rows_for(keys, tag):
        return [(k, f"{tag}#{k:09d}", SEGMENTS[int(r.integers(0, 5))],
                 float(r.integers(-500, 9000)),
                 europe_nations[int(r.integers(0, len(europe_nations)))])
                for k in keys]

    def literal(rows):
        return ", ".join(f"({k}, '{n}', '{s}', {b:.1f}, '{nat}')"
                         for k, n, s, b, nat in rows)

    def insert(branch=None):
        nonlocal next_key
        keys = list(range(next_key, next_key + 4))
        next_key += 4
        vals = literal(rows_for(keys, "NEW"))
        at = f" @ {branch}" if branch else ""
        add("insert", f"INSERT INTO cust{at} ({COLS}) VALUES {vals}",
            [f"INSERT INTO {branch or 'main'}_t ({COLS}) VALUES {vals}"],
            main_write=branch is None)
        return keys

    def point(k):
        add("select_point", f"SELECT {COLS} FROM cust WHERE custkey = {k}",
            check=dict(sql=f"SELECT {COLS} FROM main_t WHERE custkey = {k}"))

    def seg_agg():
        seg = SEGMENTS[int(r.integers(0, 5))]
        add("select_agg", SEG_AGG.format(cust="cust", seg=seg),
            check=dict(sql=SEG_AGG.format(cust="main_t", seg=seg)))

    def as_of(j):
        add("select_asof", f"SELECT {COLS} FROM cust FOR VERSION AS OF {{after:{j}}}",
            check=dict(after=j))

    add("ctas", CTAS, [DUCK_CTAS], main_write=True)
    cycle = 0
    while len(stmts) < N_STATEMENTS:
        keys = insert()
        for k in keys:
            live.add(k)
        point(keys[int(r.integers(0, len(keys)))])
        k = live.pick(r)
        delta = int(r.integers(1, 50))
        add("update", f"UPDATE cust SET account_balance = account_balance + {delta} "
            f"WHERE custkey = {k}",
            [f"UPDATE main_t SET account_balance = account_balance + {delta} "
             f"WHERE custkey = {k}"], main_write=True)
        point(k)
        k = live.pick(r)
        live.remove(k)
        add("delete", f"DELETE FROM cust WHERE custkey = {k}",
            [f"DELETE FROM main_t WHERE custkey = {k}"], main_write=True)
        seg = SEGMENTS[int(r.integers(0, 5))]
        add("select_agg", AGG.format(cust="cust", orders="pg.bench.orders", seg=seg),
            check=dict(sql=AGG.format(cust="main_t", orders="orders", seg=seg)))
        # MERGE: half the batch updates live keys, half inserts new ones
        b = len(land_rows) // LAND_ROWS
        if b < LAND_BATCHES:
            old = live.pick(r, LAND_ROWS // 2)
            new = list(range(next_key, next_key + LAND_ROWS - len(old)))
            next_key += len(new)
            land_rows += [(b,) + row for row in rows_for(old + new, "MRG")]
            for k in new:
                live.add(k)
        else:
            b = cycle % LAND_BATCHES
        add("merge",
            f"MERGE INTO cust AS c USING stage.bench.land{b} AS l "
            "ON (c.custkey = l.custkey) "
            "WHEN MATCHED THEN UPDATE SET name = l.name, "
            "account_balance = l.account_balance "
            f"WHEN NOT MATCHED THEN INSERT ({COLS}) VALUES "
            "(l.custkey, l.name, l.mktsegment, l.account_balance, l.nation)",
            [f"UPDATE main_t SET name = l.name, account_balance = l.account_balance "
             f"FROM (SELECT * FROM landing WHERE batch = {b}) l "
             "WHERE main_t.custkey = l.custkey",
             f"INSERT INTO main_t SELECT {COLS} FROM landing l WHERE l.batch = {b} "
             "AND NOT EXISTS (SELECT 1 FROM main_t m WHERE m.custkey = l.custkey)"],
            main_write=True)
        as_of(travel[int(r.integers(0, len(travel)))])
        seg_agg()
        for k in insert():
            live.add(k)
        point(live.pick(r))
        for kind, sql in MAINTENANCE:
            add(kind, sql)
        # expiry keeps only ref heads: main's head is the last target
        travel = [len(stmts) - 1]
        as_of(travel[0])
        if cycle % 2 == 1:
            add("branch", "CREATE BRANCH dev IN TABLE cust",
                ["CREATE OR REPLACE TABLE dev_t AS SELECT * FROM main_t"])
            dev_keys = insert("dev")
            k = live.pick(r)
            add("update", "UPDATE cust @ dev SET account_balance = account_balance + 7 "
                f"WHERE custkey = {k}",
                [f"UPDATE dev_t SET account_balance = account_balance + 7 "
                 f"WHERE custkey = {k}"])
            add("select_asof", f"SELECT {COLS} FROM cust FOR VERSION AS OF 'dev'",
                check=dict(table="dev_t"))
            add("branch", "ALTER BRANCH main IN TABLE cust FAST FORWARD TO dev",
                ["DELETE FROM main_t", "INSERT INTO main_t SELECT * FROM dev_t"],
                main_write=True)
            for k in dev_keys:
                live.add(k)
            add("branch", "DROP BRANCH dev IN TABLE cust", ["DROP TABLE dev_t"])
            tag = f"t{(cycle // 2) % 3}"
            add("branch", f"CREATE TAG {tag} IN TABLE cust",
                [f"CREATE OR REPLACE TABLE tag_{tag} AS SELECT * FROM main_t"])
            add("select_asof", f"SELECT {COLS} FROM cust FOR VERSION AS OF '{tag}'",
                check=dict(table=f"tag_{tag}"))
        cycle += 1
    land = list(zip(*land_rows))
    write_parquet(pa.table({
        "batch": pa.array(land[0], pa.int32()),
        "custkey": pa.array(land[1], pa.int64()),
        "name": pa.array(land[2], pa.string()),
        "mktsegment": pa.array(land[3], pa.string()),
        "account_balance": pa.array(land[4], pa.float64()),
        "nation": pa.array(land[5], pa.string())}), f"{out}/landing.parquet")
    with open(f"{out}/statements.json", "w") as f:
        json.dump(stmts, f, sort_keys=True, indent=0)
    return dict(statements=len(stmts), customers=N_CUSTOMERS, orders=N_ORDERS,
                europe_customers=len(europe_keys), merge_batches=LAND_BATCHES,
                merge_rows=LAND_ROWS)


# ---------------------------------------------------------------- corpus
#
# The stream_ingest corpus has the shape of the sf0.1 `documents` fixture
# that the engine's tests and the registry's `stream_curate_ingest` row
# run on. Measured on that fixture (5,000 rows):
#   - every word is drawn uniformly from one 30-word vocabulary (28
#     content words and the stopwords "the" and "a"), independently of
#     the document's source;
#   - a document has 10 to 99 words, uniformly (median 54); 9.4% of the
#     documents are shorter than the quality gate's 100 characters;
#   - 5% of the documents are near-duplicates: another document's text
#     with the word "dup" appended, the original at a random position;
#   - languages en 41%, zh, es, fr, de about 15% each; source is
#     `src{doc_id % 20}`.
# The registry ingests the fixture as two waves of 2,500 documents. Here a
# wave holds 1,250 documents: the fixture's 5,000 in four waves. A wave of
# either size costs 5-7 s on 4 cores, mostly fixed micro-batch overhead,
# and the smaller wave lets an 18 s run time three or four waves instead
# of two or three.
# Like the registry, the classifier trains on the first 5,000 documents
# (positive class: sources src0 and src1), and the decontamination
# benchmark is every document whose `Sampling.bucketCol(doc_id)` is 90 or
# more (10%), so a tenth of every wave is contaminated. Assumption: the
# corpus holds four fixtures' worth of documents, drawn as above, so that
# a run never runs out of waves.

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
N_SOURCES = 20


def stream_inputs(seed, out):
    r = rng_for(seed, "stream")
    n = WAVES * WAVE_DOCS
    lens = r.integers(10, 100, n)
    words = np.array(VOCAB)[r.integers(0, len(VOCAB), int(lens.sum()))]
    ends = np.cumsum(lens)
    texts = [" ".join(words[e - k:e]) for e, k in zip(ends.tolist(), lens.tolist())]
    # near-duplicates: NEAR_DUP_SHARE of the documents copy another,
    # distinct document that is not itself a copy; clusters have two members
    picked = r.permutation(n)
    n_dup = int(round(n * NEAR_DUP_SHARE))
    for d, o in zip(picked[:n_dup].tolist(), picked[n_dup:2 * n_dup].tolist()):
        texts[d] = texts[o] + " dup"
    ids = np.arange(n, dtype=np.int64)
    langs = r.choice(np.array(LANGS), n, p=LANG_P)
    table = pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    for w in range(WAVES):
        write_parquet(table.slice(w * WAVE_DOCS, WAVE_DOCS),
                      f"{out}/waves/w{w:05d}.parquet")
    return dict(waves=WAVES, wave_documents=WAVE_DOCS, ref_documents=REF_DOCS,
                near_dup_share=NEAR_DUP_SHARE, near_dup_documents=n_dup,
                vocabulary=len(VOCAB), words_min=int(lens.min()), words_max=int(lens.max()),
                short_share=sum(len(t) < 100 for t in texts) / n)


def generate(seed, workload, out):
    """Write `workload`'s inputs under `out`; return their description."""
    os.makedirs(out, exist_ok=True)
    if workload == "lake_lifecycle":
        return lake_statements(seed, out, lake_tables(seed, out))
    if workload == "stream_ingest":
        return stream_inputs(seed, out)
    raise ValueError(f"unknown workload {workload}")


def digest(out):
    """sha256 over every generated file, in path order."""
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(out)):
        for name in sorted(files):
            path = os.path.join(root, name)
            h.update(os.path.relpath(path, out).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
