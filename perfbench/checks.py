"""Untimed correctness checks: every output against an independent oracle.

- orders: the Derby sink tables against DuckDB running the engine's
  Q1–Q4 oracle SQL over the spool's JSON lines (Q2 on the windows the
  final watermark closed), and batch Q1–Q6 against the same oracles
  over the landed parquet;
- corpus_ann: the packed sequences against the `curate_pipeline_pack`
  DuckDB oracle, with its MinHash aux built from the scaled input, and
  the served top-10 lists scored for recall against numpy's exact
  cosine top-10.

Each mismatch is one failed operation.
"""
import json
from datetime import datetime, timedelta

import duckdb
import numpy as np
import pyarrow.parquet as pq


def _diff(con, got_sql, want_sql):
    """Rows in one side and not the other (multiset), both ways. Each
    side is evaluated once."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE got AS {got_sql}")
    con.execute(f"CREATE OR REPLACE TEMP TABLE want AS {want_sql}")
    a = con.execute("SELECT count(*) FROM (FROM got EXCEPT ALL FROM want)").fetchone()[0]
    b = con.execute("SELECT count(*) FROM (FROM want EXCEPT ALL FROM got)").fetchone()[0]
    n = con.execute("SELECT count(*) FROM want").fetchone()[0]
    return a, b, n


def _strip_order(sql):
    i = sql.upper().rfind("ORDER BY")
    return sql[:i] if i > sql.upper().rfind(")") else sql


class Checker:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors = []
        self.passed = []

    def compare(self, con, name, got_sql, want_sql):
        self.attempted += 1
        try:
            a, b, n = _diff(con, got_sql, want_sql)
        except Exception as e:  # a failing oracle is a failed check
            self.failed += 1
            self.errors.append(f"{name}: {type(e).__name__}: {e}"[:400])
            return
        if a or b or n == 0:
            self.failed += 1
            self.errors.append(f"{name}: {a} unexpected, {b} missing of {n} rows")
        else:
            self.passed.append(f"{name} ({n} rows)")


def _orders(record, out, ck):
    oracles = json.loads((out / "oracles.json").read_text())
    info = record["info"]
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    spool = info["spool_dir"]
    con.execute(f"""CREATE VIEW events AS
        SELECT make_timestamp(order_time * 1000000) AS ts, user_id,
               CAST(amount AS DOUBLE) AS value, channel_id AS event_type
        FROM read_json('{spool}/part-*.json', format='newline_delimited',
             columns={{order_id: 'BIGINT', user_id: 'BIGINT', order_tz: 'VARCHAR',
                       amount: 'BIGINT', currency: 'VARCHAR', channel_id: 'BIGINT',
                       order_time: 'BIGINT'}})""")

    def sink(q):
        return f"read_parquet('{out}/stream_{q}.parquet/*.parquet')"

    q1 = _strip_order(oracles["q1_daily_uv_gmv"])
    ck.compare(con, "stream q1 uv/payment",
               f"SELECT u.date_str, u.uv, g.payment, g.time_str FROM {sink('q1uv')} u "
               f"JOIN {sink('q1gmv')} g USING (date_str)", q1)
    wm = info.get("q2_final_watermark") or ""
    if wm:
        closed = datetime.strptime(wm[:19], "%Y-%m-%dT%H:%M:%S") - timedelta(minutes=1)
        q2 = _strip_order(oracles["q2_per_minute"])
        ck.compare(con, "stream q2 closed windows",
                   f"SELECT min_of_day, buy_cnt FROM {sink('q2')}",
                   f"SELECT * FROM ({q2}) WHERE strptime(min_of_day, '%Y-%m-%d %H:%M') "
                   f"<= TIMESTAMP '{closed:%Y-%m-%d %H:%M:%S}'")
    else:
        ck.attempted += 1
        ck.failed += 1
        ck.errors.append("stream q2: no final watermark reported")
    ck.compare(con, "stream q3", f"SELECT user_id, amount FROM {sink('q3')}",
               _strip_order(oracles["q3_user_gmv"]))
    ck.compare(con, "stream q4", f"SELECT channel_id, amount FROM {sink('q4')}",
               _strip_order(oracles["q4_channel_gmv"]))
    con.close()

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(f"""CREATE VIEW events AS
        SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
        FROM read_parquet('{info['landed_table']}/*.parquet')""")
    for bq, name in [("q1", "q1_daily_uv_gmv"), ("q2", "q2_per_minute"), ("q3", "q3_user_gmv"),
                     ("q4", "q4_channel_gmv"), ("q5", "q5_hourly_rollup"),
                     ("q6", "q6_trailing_rollup")]:
        got = out / f"batch_{bq}.parquet"
        cols = [f.name for f in pq.read_schema(next(got.glob("*.parquet")))]
        ck.compare(con, f"batch {bq}",
                   f"SELECT {', '.join(cols)} FROM read_parquet('{got}/*.parquet')",
                   f"SELECT {', '.join(cols)} FROM ({_strip_order(oracles[name])})")
    con.close()


def _corpus(record, out, inp, ck):
    oracles = json.loads((out / "oracles.json").read_text())
    d = inp["dir"]
    con = duckdb.connect()
    con.execute("SET threads=4")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/docs.parquet/*.parquet')")
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{d}/emb.parquet/*.parquet')")
    sql = oracles["curate_pipeline_pack"].replace("__OUTDIR__", str(out))
    got = out / "pack.parquet"
    cols = [f.name for f in pq.read_schema(next(got.glob("*.parquet")))]
    ck.compare(con, "pipelinePack",
               f"SELECT {', '.join(cols)} FROM read_parquet('{got}/*.parquet')",
               f"SELECT {', '.join(cols)} FROM ({_strip_order(sql)})")
    con.close()


def _ann(record, out, inp, ck, metrics):
    d = inp["dir"]

    def load(name):
        t = pq.read_table(d / name)
        ids = t.column("vec_id").to_numpy()
        e = np.stack(t.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
        return ids, e / np.linalg.norm(e, axis=1, keepdims=True)

    hid, h = load("ann_hist.parquet")
    qid, q = load("ann_query.parquet")
    got = {}
    for line in (out / "ann_topk.tsv").read_text().split("\n"):
        if line:
            a, _, n = line.split("\t")
            got.setdefault(int(a), set()).add(int(n))
    pos = {int(x): i for i, x in enumerate(qid)}
    served = sorted(got)
    ck.attempted += 1
    if not served or record["info"].get("ann_queries_checked", 0) != len(served):
        ck.failed += 1
        ck.errors.append(f"ann: {len(served)} queries returned, "
                         f"{record['info'].get('ann_queries_checked')} served")
        return
    hits = []
    for i in range(0, len(served), 256):
        chunk = served[i:i + 256]
        sims = q[[pos[x] for x in chunk]] @ h.T
        top = np.argpartition(-sims, 10, axis=1)[:, :10]
        for x, row in zip(chunk, top):
            hits.append(len(got[x] & set(hid[row].tolist())) / 10.0)
    recall = float(np.mean(hits))
    metrics["ann_recall10"] = {"value": recall, "unit": "fraction"}
    if any(len(got[x]) != 10 for x in served):
        ck.failed += 1
        ck.errors.append("ann: a query returned other than 10 neighbours")
    else:
        ck.passed.append(f"ann recall@10 {recall:.4f} over {len(served)} queries")


def run(workload, record, out, inp):
    ck = Checker()
    metrics = {}
    if workload == "orders":
        _orders(record, out, ck)
    elif workload == "corpus_ann":
        _corpus(record, out, inp, ck)
        _ann(record, out, inp, ck, metrics)
    return {"correct": ck.failed == 0, "attempted": ck.attempted, "failed": ck.failed,
            "errors": ck.errors, "passed": ck.passed, "metrics": metrics}
