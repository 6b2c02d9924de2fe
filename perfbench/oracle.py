"""Correctness checks: every answer of a run against an independent
replay, counted per operation.

- lake_lifecycle: the statement log is replayed on DuckDB (MERGE as
  UPDATE ... FROM plus INSERT ... WHERE NOT EXISTS, branches and tags as
  table copies). Every read, the warm-up's included, must equal the
  replay's rows at that point of the log; a time-travel or tag read must equal the state the replay
  had when that snapshot was head; the final state of `main` must equal
  the replay's.
- stream_ingest: every wave commits exactly once; each doc_id is kept
  once; the per-batch `graft.ingest.admitted` summaries add up to the
  kept rows; the kept set equals the same waves replayed as one batch.
"""
import hashlib
import json
import math
import os

import duckdb

def canon(v):
    """The harness's canonical field text (Main.canon)."""
    if v is None:
        return "\\N"
    if isinstance(v, float):
        if v == math.floor(v) and abs(v) < 1e15:
            return str(int(v))
        return "%.6f" % v
    return str(v)


def rows_digest(rows):
    lines = sorted("|".join(canon(v) for v in r) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def check(workload, inputs, result):
    fn = {"lake_lifecycle": check_lake, "stream_ingest": check_stream}[workload]
    bad_ops, final = fn(inputs, result)
    failed_final = [k for k, ok in final.items() if not ok]
    warmup = len(result["checks"].get("warmup_reads", ()))
    return dict(attempted=len(result["ops"]) + warmup + len(final),
                failed=len(bad_ops) + len(failed_final),
                detail=dict(failed_ops=bad_ops, final=final))


def _views(con, inputs, names):
    for n in names:
        con.execute(f"CREATE VIEW {n} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(inputs, n + '.parquet')}')")


def check_lake(inputs, result):
    with open(os.path.join(inputs, "statements.json")) as f:
        stmts = json.load(f)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    _views(con, inputs, ("customer", "nation", "region", "orders", "landing"))
    executed = result["checks"]["executed"]
    reads = {o["stmt"]: o for o in result["ops"] if "digest" in o}
    # warm-up reads are not operations; a wrong one is named by its entry
    reads.update({w["stmt"]: dict(w, id=f"warmup:{w['stmt']}")
                  for w in result["checks"]["warmup_reads"]})
    need_state = {stmts[i]["check"]["after"] for i in reads
                  if "after" in (stmts[i]["check"] or {})}
    cols = "custkey, name, mktsegment, account_balance, nation"
    state = {}
    bad = []
    for i in range(executed):
        s = stmts[i]
        for sql in s["duck"]:
            con.execute(sql)
        if i in need_state:
            state[i] = rows_digest(con.execute(f"SELECT {cols} FROM main_t").fetchall())
        if i in reads:
            c = s["check"]
            if "after" in c:
                want = state[c["after"]]
            elif "table" in c:
                want = rows_digest(con.execute(f"SELECT {cols} FROM {c['table']}").fetchall())
            else:
                want = rows_digest(con.execute(c["sql"]).fetchall())
            if reads[i]["digest"] != want:
                bad.append(reads[i]["id"])
    final = rows_digest(con.execute(f"SELECT {cols} FROM main_t").fetchall())
    return bad, {"final_state": final == result["checks"]["final_digest"]}


def check_stream(inputs, result):
    c = result["checks"]
    bad = [o["id"] for o in result["ops"] if o["kind"] == "wave" and
           (o["committed"] != 1 or o["admitted"] < 0 or o["docs_in"] <= 0)]
    return bad, {
        "kept_once": c["kept_distinct"] == c["kept_rows"],
        "admitted_sum": c["admitted_sum"] == c["kept_rows"],
        "batch_replay": bool(c["replay_equal"]) and c["replay_rows"] == c["kept_rows"],
    }
