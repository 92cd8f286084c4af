#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one run.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It compiles the program and the JVM
harness (`build.py`), prepares and caches the inputs and the expected
answers under `.bench_build/`, starts the harness in one JVM, checks every
output outside the timed region, and prints as its last stdout line
`{"correct", "attempted", "failed", "metrics"}`: the end-to-end metrics of
BENCHMARK.json with `--trace 0`, its per-layer metrics with `--trace 1`.
Everything it writes stays under `.bench_build/`.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parent))
import benchlib  # noqa: E402
import build  # noqa: E402

SCALEUP_COPIES = 2
ETL_ITEMS = 150_000
SETUPS = 3
# Nominal seconds of one pass on a 4-core box. A run makes
# round(--seconds / this) passes (at least 3 when traced), a count fixed
# per workload and --seconds so that every run does the same work.
PASS_SECONDS = {"etl_chain": 8.5, "registry_mix": 5.0}
HEAP = "4g"

# registry_mix items: relational scans and joins (one through the native
# as-of join strategy) and stream drains on sf0.1, pair kernels on the
# ScaleUp copy
SF_ITEMS = ["q3_join", "q_asof_native", "q_stream_tumbling"]
SCALED_ITEMS = ["q_damerau", "q_jaro"]

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def bench_tables(root):
    """The sf0.1 tables graft.Bench reads by default, and their sf0.001
    sibling that SparkEntry.entry (the set-up warm-up) reads."""
    bench = root / "src/main/scala/graft/Bench.scala"
    m = bench.exists() and re.search(r'"SPARK_GRAFT_SF_DIR",\s*"([^"]+)"', bench.read_text())
    if not m:
        return None, None
    sf = Path(m.group(1))
    return sf, sf.with_name("sf0.001")


class Bench:
    def __init__(self, root, sf):
        self.root, self.sf = root, sf
        self.cache = root / ".bench_build"
        self.logs = self.cache / "logs"
        for d in (self.cache, self.logs, self.cache / "tmp"):
            d.mkdir(parents=True, exist_ok=True)
        spec = importlib.util.spec_from_file_location(
            "local_verify", root / "scripts" / "local_verify.py")
        self.lv = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.lv)
        self.classpath = build.ensure_built(root, self.logs / "build.log")
        self.build_id = self.classpath.split(os.pathsep)[0].split(os.sep)[-2]

    # ------------------------------------------------------------- the JVM
    def java(self, args, log_name):
        env = {k: v for k, v in os.environ.items()
               if not k.startswith(("SPARK_GRAFT", "GRAFT_", "SPARK_CONF", "SPARK_HOME"))}
        cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m",
                f"-Djava.io.tmpdir={self.cache / 'tmp'}",
                f"-Dderby.system.home={self.cache / 'tmp'}",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
               + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", self.classpath, "org.apache.spark.sql.perfbench.PerfBench"] + args)
        log = self.logs / log_name
        with open(log, "wb") as lf:
            rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env,
                                cwd=self.cache / "tmp").returncode
        if rc != 0:
            tail = log.read_text(errors="replace")[-3000:]
            raise SystemExit(f"JVM failed ({rc}) running {args[0]}:\n{tail}")

    # -------------------------------------------------------------- inputs
    def scaleup_dir(self):
        """ScaleUp copy of sf0.1 for the similarity items, cached by source
        and multiple."""
        d = self.cache / "data" / f"{self.sf.name}-x{SCALEUP_COPIES}"
        if not (d / "_done").exists():
            tmp = d.with_name(d.name + ".tmp")
            shutil.rmtree(tmp, ignore_errors=True)
            shutil.rmtree(d, ignore_errors=True)
            self.java(["scaleup", str(self.sf), str(tmp), str(SCALEUP_COPIES)], "scaleup.log")
            shutil.rmtree(tmp.with_name(tmp.name + ".tmp"), ignore_errors=True)
            (tmp / "_done").write_text("")
            tmp.rename(d)
        return d

    def oracle_sql(self, names):
        f = self.cache / "expected" / f"oracle-{self.build_id}.json"
        if not f.exists():
            f.parent.mkdir(parents=True, exist_ok=True)
            all_names = SF_ITEMS + SCALED_ITEMS
            self.java(["oracle", ",".join(all_names), str(f) + ".tmp"], "oracle.log")
            os.replace(str(f) + ".tmp", f)
        sql = json.loads(f.read_text())
        return {n: sql.get(n) for n in names}

    def duck(self, data_dir):
        con = duckdb.connect()
        con.execute("SET threads TO 4")
        for t in self.lv.TABLES:
            p = data_dir / f"{t}.parquet"
            if p.is_dir():
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}/*.parquet'")
            elif p.exists():
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        return con

    def digest(self, cols):
        rows, names = self.lv.rows_of(cols, cols)
        h = hashlib.sha256()
        for r in rows:
            h.update("\x1f".join(r).encode())
            h.update(b"\x1e")
        return {"columns": names, "rows": len(rows), "digest": h.hexdigest()}

    def expected(self, names, data_dir):
        """Oracle answers in local_verify's canonical form, computed once per
        input and oracle SQL, then cached."""
        sqls = self.oracle_sql(names)
        out, con = {}, None
        for n in names:
            sql = sqls.get(n)
            if sql is None:
                out[n] = {"error": "no oracle SQL"}
                continue
            key = hashlib.sha256(f"{data_dir}\0{sql}".encode()).hexdigest()[:20]
            f = self.cache / "expected" / f"{n}-{key}.json"
            if not f.exists():
                con = con or self.duck(data_dir)
                rel = con.sql(sql)
                hug = [c for c, t in zip(rel.columns, rel.types) if "HUGEINT" in str(t).upper()]
                if hug:
                    exp = {"error": f"oracle returns HUGEINT column(s) {hug}"}
                else:
                    cur = con.execute(sql)
                    cn = [d[0] for d in cur.description]
                    rows = cur.fetchall()
                    exp = self.digest({c: [r[i] for r in rows] for i, c in enumerate(cn)})
                f.write_text(json.dumps(exp))
            out[n] = json.loads(f.read_text())
        return out

    def etl_input(self, seed):
        """Seeded bert-etl work items whose payload columns use the Codec
        tagged-scalar grammar, plus the reference answer of the chain."""
        d = self.cache / "data" / "etl" / f"n{ETL_ITEMS}-s{seed}"
        if not (d / "_done").exists():
            shutil.rmtree(d, ignore_errors=True)
            d.mkdir(parents=True)
            pq.write_table(etl_items(seed, ETL_ITEMS), d / "items.parquet", row_group_size=250_000)
            con = duckdb.connect()
            con.execute(f"COPY ({ETL_REFERENCE.format(items=d / 'items.parquet')}) "
                        f"TO '{d / 'reference.parquet'}' (FORMAT PARQUET)")
            (d / "_done").write_text("")
        # keep the inputs of the last few seeds only
        seeds = sorted((p for p in d.parent.iterdir() if p != d), key=lambda p: p.stat().st_mtime)
        for old in seeds[:-3]:
            shutil.rmtree(old, ignore_errors=True)
        os.utime(d)
        return d

    # ---------------------------------------------------------------- run
    def run(self, workload, seed, seconds, trace):
        cores = os.cpu_count()
        scaled = self.scaleup_dir()
        # the shared inputs and expected answers are made on the first run in
        # a checkout, whatever its workload, so no later run pays for them
        expected = {**self.expected(SF_ITEMS, self.sf), **self.expected(SCALED_ITEMS, scaled)}
        work = self.cache / "runs" / f"{workload}-s{seed}-t{trace}"
        shutil.rmtree(work, ignore_errors=True)
        work.mkdir(parents=True)
        passes = max(3 if trace else 1, round(seconds / PASS_SECONDS[workload]))
        plan = {"workload": workload, "seed": seed, "passes": passes, "trace": trace,
                "cores": cores, "setups": SETUPS, "work_dir": work,
                "check_dir": work / "check", "result": work / "result.json"}
        if workload == "etl_chain":
            etl = self.etl_input(seed)
            plan["etl_input"] = etl / "items.parquet"
            inputs = {"items": table_stats(etl / "items.parquet")}
        else:
            plan.update(items=",".join(SF_ITEMS + SCALED_ITEMS), data_dir=self.sf,
                        scaled_items=",".join(SCALED_ITEMS), scaled_dir=scaled)
            inputs = {f"{d.name}/{t.name.split('.')[0]}": table_stats(t)
                      for d in (self.sf, scaled) for t in sorted(d.glob("*.parquet"))}
        (work / "plan.properties").write_text(
            "".join(f"{k}={str(v).replace(chr(92), chr(92) * 2)}\n" for k, v in plan.items()))
        load_start, steal_start = os.getloadavg(), steal_seconds()
        self.java(["run", str(work / "plan.properties")], f"run-{workload}.log")
        load_end, steal = os.getloadavg(), steal_seconds() - steal_start
        result = json.loads((work / "result.json").read_text())

        if workload == "etl_chain":
            bad = self.check_etl(result, etl)
        else:
            bad = self.check_registry(result, expected)
        instances = [it for p in result["passes"] for it in p["items"]]
        attempted, failed, _ = benchlib.failed_ratio(instances, bad)
        if trace:
            metrics, spans, table = benchlib.per_layer(result, bad)
            units = PER_LAYER_UNITS
        else:
            metrics, spans, table = benchlib.end_to_end(result), None, None
            units = END_TO_END_UNITS
        errors = sorted({f"{it['name']}: {it['error']}" for it in instances if not it["ok"]})
        record = {
            "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
            "nproc": cores, "loadavg_start": load_start, "loadavg_end": load_end,
            "cpu_steal_s": steal,
            "git_rev": git_rev(self.root), "source_hash": self.build_id,
            "spark_version": result["meta"]["spark_version"], "jdk": result["meta"]["jdk"],
            "heap_max_mb": result["meta"]["heap_max_mb"], "inputs": inputs,
            "listeners": result["listeners"], "passes": len(result["passes"]),
            "pass_wall_s": [p["wall_s"] for p in result["passes"]],
            "pass_cpu_s": [p["cpu_s"] for p in result["passes"]],
            "item_s": item_runs(instances),
            "failed_items": sorted(bad) + errors, "item_table": table, "metrics": metrics}
        out = self.cache / "results"
        out.mkdir(exist_ok=True)
        stamp = time.strftime("%Y%m%dT%H%M%S")
        (out / f"{workload}-s{seed}-t{trace}-{stamp}.json").write_text(json.dumps(record, indent=1))
        if spans is not None:
            (out / f"{workload}-s{seed}-trace-{stamp}.json").write_text(json.dumps(
                {"spans": spans, "item_table": table}))
        shutil.rmtree(work, ignore_errors=True)
        print(json.dumps({k: v for k, v in record.items() if k not in ("item_table", "item_s", "metrics")}))
        for name in record["failed_items"]:
            print(f"FAILED {name}", file=sys.stderr)
        if table:
            print(f"{'item':28} {'jobs':>5} {'build_s':>8} {'plan_s':>8} {'exec_s':>8} {'files':>6}",
                  file=sys.stderr)
            for n, r in table.items():
                print(f"{n:28} {r['jobs']:5.0f} {r['build_s']:8.3f} {r['plan_s']:8.3f} "
                      f"{r['exec_s']:8.3f} {r['write_files']:6.0f}", file=sys.stderr)
        return {"correct": failed == 0, "attempted": attempted, "failed": failed,
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()}}

    # -------------------------------------------------------------- checks
    def check_registry(self, result, expected):
        """Names whose first good output differs from the oracle answer."""
        bad = set()
        outputs = {it["name"]: it["output"] for p in result["passes"]
                   for it in p["items"] if it.get("output")}
        for name, exp in expected.items():
            if name not in outputs:
                continue  # never succeeded: every instance already failed
            if "error" in exp:
                bad.add(name)
                continue
            tbl = pq.read_table(outputs[name])
            got = self.digest({c: tbl.column(c).to_pylist() for c in tbl.column_names})
            if got != exp:
                bad.add(name)
        return bad

    def check_etl(self, result, etl):
        """Marks every etl output that differs from the reference."""
        con = duckdb.connect()
        ref = f"read_parquet('{etl / 'reference.parquet'}')"
        cols = "word, bucket, n, total, any_flag"
        for p in result["passes"]:
            for it in p["items"]:
                if not it.get("output"):
                    continue
                out = f"read_parquet('{it['output']}/*.parquet')"
                diff = con.execute(
                    f"SELECT (SELECT count(*) FROM (SELECT {cols} FROM {ref} EXCEPT ALL "
                    f"SELECT {cols} FROM {out})) + (SELECT count(*) FROM (SELECT {cols} FROM "
                    f"{out} EXCEPT ALL SELECT {cols} FROM {ref}))").fetchone()[0]
                it["check_ok"] = diff == 0
        return set()


# The chain's reference answer, computed by DuckDB from the generated items
# without the program: decode -> amount -> explode words -> filter ->
# aggregate by (word, item_id % 64) -> encode as tagged scalars.
ETL_REFERENCE = """
WITH d AS (
  SELECT item_id,
    CASE WHEN qty LIKE 'int:%' THEN CAST(substr(qty, 5) AS BIGINT) END AS qty,
    CASE WHEN price LIKE 'float:%' THEN CAST(substr(price, 7) AS DOUBLE) END AS price,
    flag = 'bool:True' AS flag, text
  FROM read_parquet('{items}')),
e AS (SELECT item_id, flag, text,
        coalesce(qty, 0) * coalesce(CAST(round(price * 100) AS BIGINT), 0) AS amount FROM d),
x AS (SELECT item_id, flag, amount, unnest(string_split(text, ' ')) AS word FROM e),
f AS (SELECT * FROM x WHERE length(word) >= 3 AND (flag OR amount > 5000)),
a AS (SELECT word, item_id % 64 AS bucket, count(*) AS n, sum(amount) AS total,
        bool_or(flag) AS any_flag FROM f GROUP BY word, item_id % 64)
SELECT word, bucket, 'int:' || n AS n, 'int:' || total AS total,
  CASE WHEN any_flag THEN 'bool:True' ELSE 'bool:False' END AS any_flag FROM a
"""


def etl_items(seed, n):
    rng = np.random.default_rng(seed)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab_rng = np.random.default_rng(7)
    vocab = pa.array(["".join(vocab_rng.choice(letters, size=k))
                      for k in vocab_rng.integers(2, 9, size=4000)])
    qty = pc.binary_join_element_wise("int:", pc.cast(pa.array(rng.integers(1, 51, n)), pa.string()), "")
    qty = pc.if_else(pa.array(rng.random(n) < 0.1), "null:", qty)
    cents = rng.integers(50, 100_000, n)
    price = pc.binary_join_element_wise(
        "float:", pc.cast(pa.array(cents // 100), pa.string()), ".",
        pc.utf8_lpad(pc.cast(pa.array(cents % 100), pa.string()), 2, "0"), "")
    price = pc.if_else(pa.array(rng.random(n) < 0.05), "null:", price)
    flag = pc.if_else(pa.array(rng.random(n) < 0.3), "bool:True", "bool:False")
    # 3 to 6 words per item, Zipf-like word frequencies
    k = rng.integers(3, 7, n)
    words = [pc.take(vocab, pa.array(np.minimum(rng.zipf(1.3, n) - 1, len(vocab) - 1)))
             for _ in range(6)]
    words = [w if i < 3 else pc.if_else(pa.array(k > i), w, pa.nulls(n, pa.string()))
             for i, w in enumerate(words)]
    text = pc.binary_join_element_wise(*words, " ", null_handling="skip")
    ids = pa.array(rng.permutation(n).astype(np.int64))
    return pa.table({"item_id": ids, "qty": qty, "price": price, "flag": flag, "text": text})


def item_runs(instances):
    by = {}
    for it in instances:
        by.setdefault(it["name"], []).append(benchlib.item_seconds(it))
    return dict(sorted(by.items()))


def table_stats(p):
    files = [p] if p.is_file() else sorted(p.rglob("*.parquet"))
    return {"rows": sum(pq.ParquetFile(f).metadata.num_rows for f in files),
            "bytes": sum(f.stat().st_size for f in files)}


def steal_seconds():
    """CPU time the hypervisor took from this machine, all CPUs (Linux)."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def git_rev(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def metric_units():
    spec = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["etl_chain", "registry_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    root = Path.cwd()
    sf, warm = bench_tables(root)
    missing = [str(p) for p in (root / "src/main/scala/graft/SparkEntry.scala",
                                root / "scripts/local_verify.py", sf, warm)
               if p is None or not p.exists()]
    if missing:
        print(f"perfbench: missing {', '.join(missing)} (None: no graft.Bench data default); "
              "run from a full checkout", file=sys.stderr)
        sys.exit(2)
    out = Bench(root, sf).run(a.workload, a.seed, a.seconds, a.trace)
    print(json.dumps(out))


END_TO_END_UNITS, PER_LAYER_UNITS = metric_units()

if __name__ == "__main__":
    main()
