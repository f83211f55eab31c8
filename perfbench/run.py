#!/usr/bin/env python3
"""The repository's benchmark: one command, three workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
harness (perfbench/build.sbt, one sbt invocation) and caches the result
under .bench_build/ by a stamp of every source file; later runs start the
harness JVM directly.

Workloads (one closed-loop client each, Spark local[4]), each timing the
frozen panel in perfbench/panels.json (--full: the whole corpus):
  sql_delta   the corpus's own DuckDB statements through DuckDialect.sql
              over Delta copies of the fixture, each statement
              re-resolving its tables through DeltaLog.read
  corpus_df   SparkEntry.queries builders on the fixture, built and
              materialized to `noop`
  delta_sync  a seeded write loop (append, DELETE/UPDATE on copy-on-write
              and deletion-vector tables, MERGE, SCD2 sync, compaction),
              each write followed by one read of the table it
              changed: a stats read, a point read or a range read

The seed fixes the statement order, the rows of each Delta commit and the
write loop's keys and values (its operations run in a fixed order). Results are checked against DuckDB on
the same fixture: every sql_delta statement run and delta_sync read, the
final delta_sync tables, and each corpus_df query's warm run; corpus_df's
timed runs write to `noop`, so each query is collected once more after
the window and must return its warm run's rows. The DuckDB side never
runs while the harness is timing.

Output: a human-readable report (all metrics, every failure by name and
class), then as the last line one JSON object with the metrics that
BENCHMARK.json names -- end-to-end ones with --trace 0, per-layer ones
with --trace 1.
"""
import argparse
import datetime
import decimal
import glob
import hashlib
import importlib.util
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

sys.dont_write_bytecode = True  # importing oracle_check leaves no .pyc

BENCH = os.path.dirname(os.path.abspath(__file__))
FIXTURE = os.path.join(BENCH, "fixture")
PANELS = os.path.join(BENCH, "panels.json")
CORES = 4
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

# Corpus entries whose builders or DuckDB statements read or write fixed
# paths under /tmp: they cannot run inside a self-contained checkout.
OUTSIDE_CHECKOUT = {
    "q174_duckdb_copy_to", "q175_duckdb_read_files",
    "q194_duckdb_sniffed_csv", "q201_duckdb_zstd_read"}

WRITES = ("append", "delete", "update", "merge", "compact", "scd")
COMMITS = 2  # commits per Delta table at set-up (the seed assigns the rows)
SETUP_REPS = 2  # set-up steps per run; setup_s takes their median
READS = ("read_stats", "read_point", "read_range")
READ_AFTER = {"append": "read_stats", "delete": "read_point",  # delta_sync
              "update": "read_range", "merge": "read_point",
              "scd": "read_range", "compact": "read_stats"}


# ------------------------------------------------------------------ build

def source_stamp(root):
    h = hashlib.sha256()
    files = [os.path.join(root, "build.sbt")]
    for pattern in ("project/*.sbt", "project/build.properties",
                    "src/main/**/*", "perfbench/build.sbt",
                    "perfbench/project/build.properties",
                    "perfbench/src/**/*"):
        files += glob.glob(os.path.join(root, pattern), recursive=True)
    for f in sorted(set(files)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, root).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build(root, cache):
    """Compile program + harness once per source stamp; return the JVM
    command prefix and the corpus listing."""
    stamp = source_stamp(root)
    launcher = os.path.join(cache, f"launcher-{stamp}.txt")
    corpus = os.path.join(cache, f"corpus-{stamp}.json")
    tmp = os.path.join(cache, "tmp")
    os.makedirs(tmp, exist_ok=True)
    if not os.path.isfile(launcher):
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        t0 = time.time()
        p = subprocess.run(
            ["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
             "-Dsbt.offline=true", f"-J-Djava.io.tmpdir={tmp}",
             "-J-XX:-UsePerfData", "writeLauncher"],
            cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
            timeout=850)
        if p.returncode != 0:
            sys.exit("build failed")
        for old in glob.glob(os.path.join(cache, "launcher-*")) + \
                glob.glob(os.path.join(cache, "corpus-*")):
            os.remove(old)
        shutil.copy(os.path.join(BENCH, "target", "launcher.txt"), launcher)
        print(f"[bench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    lines = open(launcher).read().splitlines()
    java = ["java", "-Xmx3g", "-XX:-UsePerfData", "-Duser.timezone=UTC"] + \
        lines[1:] + \
        ["-cp", lines[0], "perfbench.Main"]
    if not os.path.isfile(corpus):
        subprocess.run(java[:1] + [f"-Djava.io.tmpdir={tmp}"] + java[1:] +
                       ["--corpus", corpus + ".tmp"], check=True,
                       stdout=sys.stderr, timeout=170)
        os.replace(corpus + ".tmp", corpus)
    return java, json.load(open(corpus))


# ----------------------------------------------------------------- inputs

def panel(workload, corpus, full):
    """The statements a run executes: the frozen panel, or with --full
    every corpus entry that can run inside the checkout."""
    if full:
        return sorted(n for n, q in corpus.items() if n not in OUTSIDE_CHECKOUT
                      and (workload == "corpus_df" or "oracle" in q))
    return sorted(json.load(open(PANELS))[workload])


def plan_sql_delta(rng, corpus, plan, full):
    names = panel("sql_delta", corpus, full)
    rng.shuffle(names)
    plan["statements"] = [{"name": n, "sql": corpus[n]["oracle"]}
                          for n in names]
    plan["commits"] = COMMITS
    plan["setup_reps"] = SETUP_REPS


def plan_corpus_df(rng, corpus, plan, full):
    names = panel("corpus_df", corpus, full)
    rng.shuffle(names)
    plan["names"] = names
    plan["setup_reps"] = SETUP_REPS


def plan_delta_sync(rng, plan, run_dir):
    """Seeded write loop. Every batch is a parquet file with the
    fixture's own schema; the Python mirror of the customer table keeps
    SCD batches consistent (unchanged rows repeat current values), and
    the live order keys of each table are tracked so that every DML
    range, MERGE update and read names rows that exist."""
    inputs = os.path.join(run_dir, "inputs")
    os.makedirs(inputs)
    orders_schema = pq.read_schema(os.path.join(FIXTURE, "orders.parquet"))
    cust = pq.read_table(os.path.join(FIXTURE, "customer.parquet"))
    cust_schema = cust.schema
    current = {r["c_custkey"]: r for r in cust.to_pylist()}
    okeys = sorted(pq.read_table(os.path.join(FIXTURE, "orders.parquet"),
                                 columns=["o_orderkey"]).column(0).to_pylist())
    live = {"cow": list(okeys), "dv": list(okeys)}
    next_order = okeys[-1] + 1
    next_cust = max(current) + 1
    segments = sorted({r["c_mktsegment"] for r in current.values()})
    base_ms = 1704067200000  # 2024-01-01T00:00:00Z
    plan["checkpoint_interval"] = 5
    plan["commits"] = COMMITS
    plan["scd_epoch_ms"] = base_ms
    plan["setup_reps"] = SETUP_REPS
    plan["warm_cycles"] = 1
    files = [0]

    def put(rows, schema):
        files[0] += 1
        path = os.path.join(inputs, f"b{files[0]}.parquet")
        pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)
        return path

    def order_row(key):
        return {"o_orderkey": key, "o_custkey": rng.randrange(1500),
                "o_orderstatus": rng.choice("FOP"),
                "o_totalprice": round(rng.uniform(1000, 500000), 2),
                "o_orderdate": datetime.datetime(1992, 1, 1) +
                datetime.timedelta(days=rng.randrange(2500)),
                "o_orderpriority": rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])}

    def key_range(keys, width):
        j = rng.randrange(len(keys) - width)
        return keys[j], keys[j + width]

    def read(table, kind):
        keys = sorted(current) if table == "scd" else live[table]
        if kind == "read_range":
            lo, hi = key_range(keys, 8 if table == "scd" else 10)
        else:
            lo = hi = rng.choice(keys)
        return {"kind": kind, "table": table, "lo": lo, "hi": hi}

    cycles = []
    for c in range(8):
        # Every cycle runs the same writes in the same order, so that runs
        # with different seeds do the same work on tables of the same
        # layout; the append and the compaction alternate between the
        # tables. The seed sets the keys and the values.
        writes = [("append", ("cow", "dv")[c % 2]),
                  ("delete", "cow"), ("update", "dv"), ("merge", "cow"),
                  ("delete", "dv"), ("scd", "scd"), ("update", "cow"),
                  ("compact", ("dv", "cow")[c % 2])]
        ops = []
        for kind, table in writes:
            op = {"kind": kind, "table": table}
            if kind == "append":
                n = rng.randint(20, 60)
                op["source"] = put([order_row(next_order + j)
                                    for j in range(n)], orders_schema)
                op["rows"] = n
                live[table] += range(next_order, next_order + n)
                next_order += n
            elif kind in ("delete", "update"):
                op["lo"], op["hi"] = key_range(live[table], rng.randint(5, 40))
                if kind == "delete":
                    live[table] = [k for k in live[table]
                                   if not op["lo"] <= k <= op["hi"]]
            elif kind == "merge":
                new = list(range(next_order, next_order + 10))
                keys = rng.sample(live[table], 30) + new
                live[table] += new
                next_order += 10
                op["source"] = put([order_row(k) for k in keys],
                                   orders_schema)
            elif kind == "scd":
                keys = rng.sample(sorted(current), 60)
                rows = []
                for k in keys:
                    r = dict(current[k])
                    if rng.random() < 0.5:
                        r["c_mktsegment"] = rng.choice(segments)
                        r["c_acctbal"] = round(rng.uniform(-999, 9999), 2)
                    rows.append(r)
                for _ in range(5):
                    rows.append({"c_custkey": next_cust,
                                 "c_name": f"Customer#{next_cust:09d}",
                                 "c_nationkey": rng.randrange(25),
                                 "c_acctbal": round(rng.uniform(-999, 9999), 2),
                                 "c_mktsegment": rng.choice(segments)})
                    next_cust += 1
                for r in rows:
                    current[r["c_custkey"]] = r
                op["source"] = put(rows, cust_schema)
                op["now_ms"] = base_ms + (c + 1) * 3600000
            ops.append(op)
            # one read of the written table after each write; the kind of
            # write fixes the kind of read
            ops.append(read(table, READ_AFTER[kind]))
        cycles.append(ops)
    plan["cycles"] = cycles


# ----------------------------------------------------------------- oracle

def load_oracle_check(root):
    """scripts/oracle_check.py's canonicalization (columns by name, rows
    in result order, floats exact), imported from the checkout."""
    spec = importlib.util.spec_from_file_location(
        "oracle_check", os.path.join(root, "scripts", "oracle_check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def decode(v):
    """Rebuild a value the harness tagged (see Main.cell)."""
    if isinstance(v, dict):
        (k, x), = v.items()
        if k == "ts":
            return datetime.datetime(1970, 1, 1) + \
                datetime.timedelta(microseconds=x)
        if k == "date":
            return datetime.date(1970, 1, 1) + datetime.timedelta(days=x)
        if k == "dec":
            return decimal.Decimal(x)
        if k == "bin":
            return bytes.fromhex(x)
        if k == "f":
            return float(x)
        return x
    if isinstance(v, list):
        return [decode(x) for x in v]
    return v


def key(v):
    """Text form under which two values are equal iff Python's == holds
    for the types the engines return (1 == 1.0, floats bit-exact)."""
    if v is None:
        return "n"
    if isinstance(v, bool):
        return "b%d" % v
    if isinstance(v, decimal.Decimal):
        v = int(v) if v == v.to_integral_value() else float(v)
    if isinstance(v, float) and v.is_integer():
        v = int(v)
    if isinstance(v, int):
        return "i%d" % v
    if isinstance(v, float):
        return "f" + v.hex()
    if isinstance(v, (tuple, list)):
        return "t(" + ",".join(key(x) for x in v) + ")"
    return "s" + str(v)


def result_hash(oc, cols, rows):
    rows = [tuple(x.astimezone(datetime.timezone.utc).replace(tzinfo=None)
                  if isinstance(x, datetime.datetime) and x.tzinfo else x
                  for x in r) for r in rows]
    c, r = oc.canon(rows, cols)
    h = hashlib.sha256("\x1f".join(c).encode())
    for row in r:
        h.update(("\x1e" + "\x1f".join(key(x) for x in row)).encode())
    return h.hexdigest()


def verdict_of(oc, res, want):
    """'ok' when harness rows `res` hash to the DuckDB hash `want`."""
    mine = result_hash(oc, res["cols"], [tuple(decode(x) for x in r)
                                         for r in res["rows"]])
    return "ok" if mine == want else "mismatch"


def corrupt(h):
    return ("0" if h[0] != "0" else "1") + h[1:]


def fixture_stamp():
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(FIXTURE, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def duck_views(con):
    for t in TABLES:
        p = os.path.join(FIXTURE, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")


def expected(oc, cache, statements):
    """DuckDB result hash per statement, computed once per fixture
    content and statement text."""
    out, con = {}, None
    stamp = fixture_stamp()
    d = os.path.join(cache, "oracle")
    os.makedirs(d, exist_ok=True)
    for name, sql in statements.items():
        f = os.path.join(d, hashlib.sha256(
            f"{stamp}\0{sql}".encode()).hexdigest()[:24] + ".json")
        if not os.path.isfile(f):
            if con is None:
                con = duckdb.connect()
                duck_views(con)
            try:
                cur = con.execute(sql)
                rec = {"hash": result_hash(oc, [c[0] for c in cur.description],
                                           cur.fetchall())}
            except Exception as e:
                rec = {"error": str(e)[:500]}
            with open(f + ".tmp", "w") as fh:
                json.dump(rec, fh)
            os.replace(f + ".tmp", f)
        out[name] = json.load(open(f))
    return out


def classify(op):
    msg = op.get("error", "")
    if "INTERNAL_ERROR" in msg:
        return "internal"
    if msg.startswith("SQL failed in Spark's dialect"):
        return "guidance"
    return "other"


def check_statements(oc, cache, corpus, out):
    """Verdict per statement name: 'ok', 'mismatch', or an error class.
    The first pass's rows are checked against DuckDB; every later run of
    the statement must return the same rows (digest) or fail too. Where
    the timed runs return no rows (corpus_df), a check run after the
    window (pass -1) must return the first pass's rows, or the
    statement and all its timed runs fail."""
    exp = expected(oc, cache, {n: corpus[n]["oracle"] for n in out["results"]
                               if "oracle" in corpus[n]})
    verdict, first = {}, {}
    for op in out["ops"]:
        n = op["name"]
        if op["pass"] == 0:
            if not op["ok"]:
                verdict[n] = classify(op)
            else:
                verdict[n] = verdict_of(oc, out["results"][n],
                                        exp.get(n, {}).get("hash"))
                first[n] = op.get("digest")
    for op in out["ops"]:
        n = op["name"]
        if op["pass"] == -1 and verdict.get(n) == "ok":
            if not op["ok"]:
                verdict[n] = classify(op)
            elif op["digest"] != first[n]:
                verdict[n] = "mismatch"
    per_op = []
    for op in out["ops"]:
        if op["pass"] <= 0:
            continue
        n = op["name"]
        if not op["ok"]:
            v = classify(op)
        elif verdict.get(n) != "ok":
            v = verdict.get(n, "other")
        elif op.get("digest") is not None and op["digest"] != first.get(n):
            v = "mismatch"
        else:
            v = "ok"
        per_op.append((op, v))
    return verdict, per_op, exp


def self_check(oc, exp, out):
    """A corrupted expected hash must surface as a reported failure."""
    for n, e in sorted(exp.items()):
        if "hash" in e and n in out["results"]:
            return verdict_of(oc, out["results"][n], corrupt(e["hash"])) == "mismatch"
    return False


def replay_delta_sync(oc, plan, out):
    """DuckDB replays the executed write loop (warm and timed cycles) on
    the same starting parquet; every read and the final tables must
    match. Returns a verdict per execution; a traced run's untraced
    replay of a cycle on the twin tables shares the operation's slot."""
    con = duckdb.connect()
    orders = os.path.join(FIXTURE, "orders.parquet")
    cust = os.path.join(FIXTURE, "customer.parquet")
    t0 = plan["scd_epoch_ms"]
    for t in ("cow", "dv"):
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{orders}')")
    con.execute(f"""CREATE TABLE scd AS SELECT *, row_number() OVER () AS scd_id,
        epoch_ms({t0}) AS effective_date, CAST(NULL AS TIMESTAMP) AS end_date,
        true AS is_current, epoch_ms({t0}) AS created_at,
        epoch_ms({t0}) AS updated_at FROM read_parquet('{cust}')""")
    scd_view = ("c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment, "
                "effective_date, end_date, is_current")
    slots = {}
    for o in out["ops"]:
        slots.setdefault(o["slot"], []).append(o)
    planned = [o for c in plan["cycles"][:out["cycles_run"]] for o in c]
    assert len(slots) == len(planned), "op log out of step with the plan"
    verdicts, selfcheck = [], None
    for runs, op in zip((slots[k] for k in sorted(slots)), planned):
        t, kind = op["table"], op["kind"]
        got = runs[0]
        if not got["ok"]:
            verdicts += [(g, "other") for g in runs]
            continue
        if kind == "append":
            con.execute(f"INSERT INTO {t} SELECT * FROM read_parquet('{op['source']}')")
        elif kind == "delete":
            con.execute(f"DELETE FROM {t} WHERE o_orderkey BETWEEN {op['lo']} AND {op['hi']}")
        elif kind == "update":
            con.execute(f"UPDATE {t} SET o_orderstatus = 'U', o_totalprice = "
                        f"o_totalprice + 1.0 WHERE o_orderkey BETWEEN {op['lo']} AND {op['hi']}")
        elif kind == "merge":
            src = f"read_parquet('{op['source']}')"
            con.execute(f"DELETE FROM {t} WHERE o_orderkey IN (SELECT o_orderkey FROM {src})")
            con.execute(f"INSERT INTO {t} SELECT * FROM {src}")
        elif kind == "scd":
            now = f"epoch_ms({op['now_ms']})"
            src = f"read_parquet('{op['source']}')"
            diff = " OR ".join(
                f"coalesce(CAST(c.{c} AS VARCHAR), '') <> coalesce(CAST(i.{c} AS VARCHAR), '')"
                for c in ("c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))
            con.execute(f"CREATE OR REPLACE TEMP TABLE chg AS SELECT i.* FROM {src} i "
                        f"LEFT JOIN (SELECT * FROM scd WHERE is_current) c USING (c_custkey) "
                        f"WHERE c.c_custkey IS NULL OR {diff}")
            con.execute(f"UPDATE scd SET end_date = {now}, is_current = false, updated_at = {now} "
                        f"WHERE is_current AND c_custkey IN (SELECT c_custkey FROM chg)")
            con.execute(f"INSERT INTO scd SELECT *, (SELECT max(scd_id) FROM scd) + "
                        f"row_number() OVER (), {now}, NULL, true, {now}, {now} FROM chg")
        elif kind in READS:
            k = "c_custkey" if t == "scd" else "o_orderkey"
            cols = scd_view if t == "scd" else "*"
            order = "c_custkey, effective_date" if t == "scd" else k
            if kind == "read_stats":
                n = con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
                width = len(con.execute(f"SELECT * FROM {t} LIMIT 0").description)
                cur_cols, rows = ["n", "width"], [(n, width)]
            else:
                cur = con.execute(f"SELECT {cols} FROM {t} WHERE {k} BETWEEN "
                                  f"{op['lo']} AND {op['hi']} ORDER BY {order}")
                cur_cols, rows = [c[0] for c in cur.description], cur.fetchall()
            want = result_hash(oc, cur_cols, rows)
            for g in runs:
                verdicts.append((g, verdict_of(oc, g["result"], want)
                                 if g["ok"] else "other"))
            if selfcheck is None:
                selfcheck = verdict_of(oc, got["result"], corrupt(want)) == "mismatch"
            continue
        verdicts += [(g, "ok" if g["ok"] else "other") for g in runs]
    finals = {}
    for t in ("cow", "dv", "scd"):
        sel = (f"SELECT {scd_view} FROM scd ORDER BY c_custkey, effective_date"
               if t == "scd" else f"SELECT * FROM {t} ORDER BY o_orderkey")
        cur = con.execute(sel)
        want = result_hash(oc, [c[0] for c in cur.description], cur.fetchall())
        finals[t] = verdict_of(oc, out["final"][t], want) == "ok"
    n = con.execute("SELECT count(*) FROM scd").fetchone()[0]
    finals["scd_ids"] = out["final"]["scd_ids"] == [n, 1, n, n]
    return verdicts, finals, bool(selfcheck)


# ---------------------------------------------------------------- metrics

def best_of(execs):
    """(first run, fastest ms) per operation whose every run succeeded
    and matched. sql_delta runs each statement twice back to back
    (Workloads.SqlReps); the other workloads run each operation once."""
    by = {}
    for o, v in execs:
        by.setdefault(o["slot"], []).append((o, v))
    return [(runs[0][0], min(o["ms"] for o, _ in runs))
            for runs in by.values() if all(v == "ok" for _, v in runs)]


def pct(xs, q):
    xs = sorted(xs)
    if not xs:
        return float("nan")
    i = min(len(xs) - 1, max(0, math.ceil(q * len(xs)) - 1))
    return xs[i]


def span_stats(out):
    """Self time per span and per-layer sums over traced operations."""
    spans = out.get("spans", [])
    child = [0] * len(spans)
    for s in spans:
        if s[2] >= 0:
            child[s[2]] += s[4] - s[3]
    rows = []
    for i, (name, op, parent, t0, t1, jobs) in enumerate(spans):
        rows.append({"name": name, "op": op, "ms": (t1 - t0) / 1e6,
                     "self_ms": (t1 - t0 - child[i]) / 1e6, "jobs": jobs})
    return rows


def layer_metrics(out, timed, spans, per_layer_names, modules):
    """Per-layer numbers from the traced passes."""
    m = {n: 0.0 for n in per_layer_names}
    tops = [o for o, _ in timed if o["traced"]]
    ntr = max(1, len(tops))
    by = {}
    for s in spans:
        by.setdefault(s["name"], []).append(s)
    L = out.get("layer", {})

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    def self_per_op(*names):
        return sum(s["self_ms"] for n in names for s in by.get(n, [])) / ntr

    m["dialect.sql_ms"] = self_per_op("dialect.sql")
    m["dialect.rewrite_ms"] = mean(L.get("dialect.rewrite_ms", []))
    m["dialect.rewritten_frac"] = mean(L.get("dialect.rewritten", []))
    m["dialect.build_jobs"] = sum(s["jobs"] for s in by.get("dialect.sql", [])) / ntr
    m["delta_log.snapshot_ms"] = mean(L.get("delta_log.snapshot_ms", []))
    m["delta_log.snapshot_calls"] = sum(
        len(by.get(n, [])) for n in ("delta_log.read", "delta_log.read_where")) / ntr
    m["delta_log.commits_replayed"] = mean(L.get("delta_log.commits_replayed", []))
    m["delta_log.live_files"] = mean(L.get("delta_log.live_files", []))
    m["delta_log.read_ms"] = self_per_op("delta_log.read", "delta_log.read_where")
    m["delta_log.skip_kept_frac"] = mean(L.get("delta_log.skip_kept_frac", []))
    writes = [o for o in tops if o["kind"] in WRITES and o["ok"]]
    for k in ("append", "delete", "update", "merge", "compact"):
        m[f"delta_write.{k}_ms"] = mean([s["ms"] for s in by.get(f"delta_write.{k}", [])])
    m["delta_write.overwrite_ms"] = mean(
        [s["self_ms"] for s in by.get("delta_write.scd", [])])
    m["delta_write.checkpoint_commit_ms"] = mean(
        [o["ms"] for o in writes if o.get("checkpoint")])
    m["delta_write.rewritten_files"] = mean([o.get("rewritten_files", 0) for o in writes])
    m["delta_write.bytes_written"] = mean([o.get("bytes_written", 0) for o in writes])
    rows = sum(o.get("rows", 0) for o in writes)
    live_row_bytes = out.get("live_row_bytes", 0)
    m["delta_write.write_amp"] = (sum(o.get("bytes_written", 0) for o in writes) /
                                  (rows * live_row_bytes)) if rows and live_row_bytes else 0.0
    m["delta_write.log_bytes"] = out.get("log_bytes", 0)
    wspans = [s for n in by if n.startswith("delta_write.") for s in by[n]]
    m["delta_write.jobs_per_commit"] = mean([s["jobs"] for s in wspans])
    m["scd.sync_ms"] = mean([s["ms"] for s in by.get("scd.sync", [])])
    m["scd.rows_changed"] = mean([o.get("rows", 0) for o in writes if o["kind"] == "scd"])
    m["scd.jobs"] = mean([s["jobs"] for s in by.get("scd.sync", [])])
    m["scanner.stats_ms"] = mean([s["ms"] for s in by.get("scanner.stats", [])])
    m["scanner.schema_ms"] = mean([s["ms"] for s in by.get("scanner.schema", [])])
    for mod in modules:
        qs = [o for o in tops if o.get("module") == mod]
        m[f"operators.{mod}.wall_ms"] = mean([o["ms"] for o in qs])
        m[f"operators.{mod}.build_ms"] = mean(
            [s["ms"] for s in by.get(f"operators.{mod}.build", [])])
        m[f"operators.{mod}.jobs"] = mean([o.get("spark", {}).get("jobs", 0) for o in qs])
    m["spark.plan_ms"] = self_per_op("spark.plan")
    for k in ("jobs", "stages", "tasks", "exec_run_ms", "exec_cpu_ms", "gc_ms",
              "shuffle_write_bytes", "spill_bytes", "input_bytes", "failed_tasks"):
        m[f"spark.{k}"] = sum(o.get("spark", {}).get(k, 0) for o in tops) / ntr
    # Reconciliation: each traced operation's wall against the self
    # times of the spans inside it; the root span's self time is the
    # part no layer claims.
    walls = sum(s["ms"] for s in by.get("op", []))
    m["trace.unattributed_frac"] = (sum(s["self_ms"] for s in by.get("op", [])) /
                                    walls) if walls else 0.0
    # Overhead: traced passes against untraced passes of the same ops --
    # the same statement, or (delta_sync) the same cycle's operation
    # replayed on the twin tables, which shares its slot.
    def same(o):
        return o["slot"] if o["kind"] in WRITES + READS else (o["kind"], o["name"])
    un = {}
    for o, _ in timed:
        if not o["traced"]:
            un.setdefault(same(o), []).append(o["ms"])
    pairs = [(o["ms"], statistics.median(un[same(o)])) for o in tops if same(o) in un]
    m["trace.overhead_frac"] = (sum(a for a, _ in pairs) / sum(b for _, b in pairs)
                                - 1.0) if pairs else 0.0
    return m


def main():
    # A terminated run still stops the harness JVM and removes its scratch.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["sql_delta", "corpus_df", "delta_sync"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--full", action="store_true",
                    help="run every corpus entry instead of the frozen panel "
                    "(a census and re-anchor run; minutes, not seconds)")
    args = ap.parse_args()

    root = os.getcwd()
    bench_json = os.path.join(root, "BENCHMARK.json")
    for need in ("build.sbt", "scripts/oracle_check.py",
                 "src/main/scala/graft/SparkEntry.scala"):
        if not os.path.isfile(os.path.join(root, need)):
            sys.exit(f"not a checkout of the program: {need} is missing")
    spec = json.load(open(bench_json))
    cache = os.path.join(root, ".bench_build")
    os.makedirs(cache, exist_ok=True)
    java, corpus = build(root, cache)
    oc = load_oracle_check(root)

    run_dir = os.path.join(cache, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        rng = random.Random(args.seed)
        plan = {"workload": args.workload, "seed": args.seed,
                "seconds": args.seconds, "trace": bool(args.trace),
                "cores": CORES, "fixture": FIXTURE, "work": run_dir}
        if args.workload == "sql_delta":
            plan_sql_delta(rng, corpus, plan, args.full)
        elif args.workload == "corpus_df":
            plan_corpus_df(rng, corpus, plan, args.full)
        else:
            plan_delta_sync(rng, plan, run_dir)
        plan_path = os.path.join(run_dir, "plan.json")
        out_path = os.path.join(run_dir, "out.json")
        json.dump(plan, open(plan_path, "w"))
        # Oracle expectations before the harness starts: DuckDB never
        # shares the machine with a timed window.
        names = [x["name"] for x in plan.get("statements", [])] + \
            plan.get("names", [])
        expected(oc, cache, {n: corpus[n]["oracle"] for n in names
                             if "oracle" in corpus[n]})
        p = subprocess.run(
            java[:1] + [f"-Djava.io.tmpdir={run_dir}/tmp"] + java[1:] +
            [plan_path, out_path], cwd=run_dir, stdout=sys.stderr,
            stderr=sys.stderr, timeout=3000 if args.full else 170)
        if p.returncode != 0:
            sys.exit(f"harness exited with {p.returncode}")
        out = json.load(open(out_path))
        report(args, spec, plan, out, corpus, oc, cache)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def report(args, spec, plan, out, corpus, oc, cache):
    failures = []
    if args.workload == "delta_sync":
        # The warm cycle's operations are replayed and checked too; only
        # the timed passes' ones are in the window.
        counted, finals, selfcheck = replay_delta_sync(oc, plan, out)
        timed = [(o, v) for o, v in counted if o["pass"] > 0]
        for t, ok in finals.items():
            if not ok:
                failures.append((f"final:{t}", "mismatch"))
        extra_attempted = len(finals)
    else:
        verdict, timed, exp = check_statements(oc, cache, corpus, out)
        selfcheck = self_check(oc, exp, out)
        if args.workload == "sql_delta":
            frozen = set(panel("sql_delta", corpus, False))
            counted = [(o, v) for o, v in timed if o["name"] in frozen]
        else:
            counted = timed
        extra_attempted = 0
        for n, v in sorted(verdict.items()):
            if v != "ok":
                failures.append((n, v))
    bad = [(o, v) for o, v in counted if v != "ok"]
    attempted = len(counted) + extra_attempted
    failed = len(bad) + sum(1 for n, _ in failures if n.startswith("final:"))
    all_fail = sum(1 for _, v in timed if v != "ok")
    # A traced run reports its latencies from its untraced passes.
    base = [(o, v) for o, v in counted
            if o["pass"] > 0 and not (args.trace and o["traced"])]
    best = best_of(base)
    lat = [ms for _, ms in best]
    window = out["window_s"]
    done = sum(1 for _, v in timed if v == "ok")
    setup = out["setup"]
    setup_s = setup["session_s"] + statistics.median(setup["create_s"]) + setup["warm_s"]
    cal = out["calib"]
    drift_1t = cal["1t_end"] / cal["1t_start"]
    drift_all = cal["allcore_end"] / cal["allcore_start"]
    bound = max(m["bound"] for m in spec["end_to_end"])

    # ops_per_s: executions that completed and matched, over the timed
    # window's wall clock. op_p50_ms: median latency of the workload's own
    # operation -- a statement, a query, or (delta_sync) a commit; the
    # reads beside delta_sync's writes are fast enough that a median over
    # both would fall in the gap between the two.
    own = [ms for o, ms in best if o["kind"] in WRITES] \
        if args.workload == "delta_sync" else lat
    e2e = {"setup_s": setup_s, "ops_per_s": done / window,
           "op_p50_ms": statistics.median(own) if own else float("nan"),
           "heap_mb": out["heap_mb"]}
    # A run holds tens of operations, too few for a bounded tail
    # percentile; p90 is reported beside the bounded metrics.
    detail = {"failed_frac": all_fail / len(timed) if timed else 0.0,
              "p90_ms": pct(lat, 0.9)}
    if args.workload == "delta_sync":
        for kind, sel in (("commit", WRITES), ("read", READS)):
            xs = [ms for o, ms in best if o["kind"] in sel]
            detail[f"{kind}_p50_ms"] = statistics.median(xs) if xs else float("nan")
            detail[f"{kind}_p90_ms"] = pct(xs, 0.9)
        detail["space_amp"] = out["space_amp"]
    else:
        detail["stmt_p50_ms"] = e2e["op_p50_ms"]
        detail["stmt_p90_ms"] = detail["p90_ms"]

    print(f"== {args.workload} seed={args.seed} trace={args.trace}: "
          f"{len(lat)} operations ok, {len(counted)} runs counted, "
          f"{done} of {len(timed)} in the {window:.1f} s window ok")
    print(f"   setup: session {setup['session_s']:.2f} s, create "
          f"{['%.2f' % x for x in setup['create_s']]} s, warm pass {setup['warm_s']:.2f} s")
    for k, v in list(e2e.items()) + list(detail.items()):
        print(f"   {k:<16} {v:12.4f}")
    print(f"   host calib 1t {cal['1t_start']:.1f}->{cal['1t_end']:.1f} ms, "
          f"all-core {cal['allcore_start']:.1f}->{cal['allcore_end']:.1f} ms")
    if max(drift_1t, drift_all) > 1 + bound:
        print(f"   HOST DRIFT: end/start 1t {drift_1t:.2f}, all-core {drift_all:.2f} "
              f"exceeds 1+{bound} -- compare this run with care")
    if failures or bad:
        print(f"   failures ({len(failures)} names; class: guidance | internal | mismatch | other):")
        for n, v in failures:
            print(f"     {v:<9} {n}")
        for o, v in bad:
            print(f"     {v:<9} {o['kind']} {o['name']} pass {o['pass']}: "
                  f"{o.get('error', '')[:160]!r}")
    if not selfcheck:
        print("   SELF-CHECK FAILED: a corrupted expected hash was not reported")

    if args.trace:
        names = [m["name"] for m in spec["per_layer"]]
        modules = sorted({q["module"] for q in corpus.values()})
        spans = span_stats(out)
        lm = layer_metrics(out, timed, spans, names, modules)
        classes = {}
        for _, v in failures:
            classes[v] = classes.get(v, 0) + 1
        lm["dialect.guidance_errors"] = classes.get("guidance", 0)
        lm["dialect.internal_errors"] = classes.get("internal", 0)
        lm["host.calib_1t_ms"] = cal["1t_start"]
        lm["host.calib_allcore_ms"] = cal["allcore_start"]
        lm["host.drift_1t"] = drift_1t
        lm["host.drift_allcore"] = drift_all
        for k, v in detail.items():
            lm[f"ops.{k}"] = v
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        metrics = {n: {"value": lm.get(n, 0.0), "unit": units[n]} for n in names}
        for n in names:
            print(f"   {n:<36} {lm.get(n, 0.0):14.4f} {units[n]}")
        print("   reconciliation: self time by layer over traced operations")
        walls = sum(x["ms"] for x in spans if x["name"] == "op")
        layers = {}
        for x in spans:
            layer = "unattributed" if x["name"] == "op" else x["name"].split(".")[0]
            layers[layer] = layers.get(layer, 0.0) + x["self_ms"]
        for layer, ms in sorted(layers.items(), key=lambda kv: -kv[1]):
            print(f"     {layer:<14} {ms:10.1f} ms  {ms / walls if walls else 0:6.1%}")
        print(f"     {'sum':<14} {sum(layers.values()):10.1f} ms  (operation walls "
              f"{walls:.1f} ms)")
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": failed == 0 and selfcheck and all(
        v == "ok" for _, v in counted), "attempted": attempted,
        "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
