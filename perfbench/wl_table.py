"""table_commits: a fixed seeded sequence of writes and reads against
one versioned table (``filters_spark.sources.versioned``).

Set-up bootstraps an orders-shaped table range-clustered into many
files with all four sidecars armed (min/max stats and a bloom filter on
the key, NDV registers on the customer column, an HDR histogram on the
amount).  The timed loop then cycles through keyed CDC merges whose
keys favour a hot range, scattered copy-on-write and merge-on-read
deletes, a range update and a periodic Z-order optimize, with point
lookups, snapshot aggregates, time-travel reads and change-feed reads
between the writes.  Every op is its own iteration.

The whole sequence is replayed in Python when the inputs are
generated, so each op's expected result (version, rows deleted or
updated, the point-read row, snapshot aggregates, change-feed counts)
is known before the run; the final snapshot is checked against the
replay and ``verify_versioned(strict=True)`` must come back clean.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from harness import dir_bytes, input_dir

# Table size: TPC-H ORDERS at scale factor 0.01 (15,000 rows), the
# scale of the registry's test data; the file count is the registry's
# layout for these tables (rel_delete_mor, rel_bloom_skipping: 8).
SIZES = {
    "full": {"rows": 15_000, "files": 8, "cycles": 4},
    "tiny": {"rows": 3_000, "files": 4, "cycles": 2},
}
# The traffic shape, each parameter taken from a public benchmark or
# from the package's own registry queries:
#
# * writes and reads alternate half and half, as in YCSB workload A
#   ("update heavy", 50% reads / 50% updates).  YCSB's reads are point
#   reads by key, so every read is a point lookup except one each of
#   the other read kinds.  Each write kind comes once a cycle, except
#   the CDC merge, which is the stream the table ingests and takes the
#   remaining writes;
# * a point lookup is one query for a probe set of 3 present and 2
#   absent keys, the shape of rel_bloom_skipping (per-key pruned reads
#   unioned, collected once);
# * keyed ops follow YCSB's hotspot distribution with its defaults
#   (hotspotopnfraction 0.8 of the ops go to hotspotdatafraction 0.2
#   of the keys), for merge updates, point lookups and range updates;
#   deletes are scattered uniformly over the live keys, like the
#   modulo predicates of rel_delete_mor;
# * a write touches 0.1% of the table: a TPC-H refresh function
#   inserts (RF1) or deletes (RF2) SF × 1,500 of the SF × 1,500,000
#   orders, and rel_delete_mor deletes k % 997 and k % 1003.  A merge
#   inserts that many new keys and, in rel_merge_snapshot's
#   proportion (every 10th key updated, every 97th inserted), updates
#   9.7 times as many existing ones;
#
# The merge-on-read delete comes just before the optimize that folds
# its delete vectors, so one lookup pays the vector anti-join.  A run
# measures whole cycles.
CYCLE = ["merge", "read_point", "delete_cow", "read_scan", "merge",
         "read_point", "update", "read_changes", "delete_mor", "read_point",
         "optimize", "read_asof"]
# applied by every set-up rep: a merge and a lookup, whose first calls
# are several times slower than the later ones
WARM = ["merge", "read_point"]
COMMITS = {"merge", "delete_cow", "delete_mor", "update", "optimize"}
HOT_SHARE = 0.8                         # share of keyed ops on hot keys
HOT_RANGE = 0.2                         # hot keys: first 20% of the space
WRITE_SHARE = 0.001                     # rows a write touches ÷ table rows
MERGE_UPDATES_PER_INSERT = 97 / 10
PROBE_PRESENT, PROBE_ABSENT = 3, 2
ASOF_BACK = 3
CHANGES_BACK = 3
COLS = ["o_orderkey", "o_custkey", "o_status", "o_cents", "o_orderdate",
        "o_priority", "o_comment"]
STATUS = ["F", "O", "P"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _agg(state: dict) -> list[int]:
    """count, Σcents, Σcustkey, Σ(key % 997)·cents over a snapshot."""
    c = s1 = s2 = s3 = 0
    for k, r in state.items():
        c += 1
        s1 += r[2]
        s2 += r[0]
        s3 += (k % 997) * r[2]
    return [c, s1, s2, s3]


AGG_SQL = ("count(1) AS c", "sum(o_cents) AS s1", "sum(o_custkey) AS s2",
           "sum((o_orderkey % 997) * o_cents) AS s3")


class _Replay:
    """The table's state in Python, advanced op by op."""

    def __init__(self, rows: dict):
        self.state = rows                   # key -> (cust, status, cents, ...)
        self.history = [_agg(rows)]         # aggregates per version offset
        self.deltas: list[dict] = [{}]      # key -> (old, new) per commit

    def commit(self, delta: dict) -> None:
        agg = list(self.history[-1])
        for k, (old, new) in delta.items():
            for r, sign in ((old, -1), (new, 1)):
                if r is not None:
                    agg[0] += sign
                    agg[1] += sign * r[2]
                    agg[2] += sign * r[0]
                    agg[3] += sign * (k % 997) * r[2]
            if new is None:
                self.state.pop(k, None)
            else:
                self.state[k] = new
        self.deltas.append(delta)
        self.history.append(agg)

    def changes(self, back: int) -> dict:
        """Change-feed counts over the last ``back`` commits."""
        net: dict = {}
        for d in self.deltas[-back:]:
            for k, (old, new) in d.items():
                net[k] = (net[k][0] if k in net else old, new)
        out = {"insert": 0, "delete": 0, "update_preimage": 0,
               "update_postimage": 0}
        for old, new in net.values():
            if old == new:
                continue
            if old is None:
                out["insert"] += 1
            elif new is None:
                out["delete"] += 1
            else:
                out["update_preimage"] += 1
                out["update_postimage"] += 1
        return out


def generate(cache: str, seed: int, size: str) -> dict:
    cfg = SIZES[size]
    d = input_dir(cache, "table_commits", size, seed, __file__)
    man_path = os.path.join(d, "manifest.json")
    if os.path.exists(man_path):
        with open(man_path) as f:
            return json.load(f)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng([seed, 2])
    n = cfg["rows"]
    words = ["carefully", "final", "deposits", "ironic", "requests", "sleep",
             "blithely", "express", "accounts", "pending", "theodolites"]
    comment_pool = [" ".join(words[j] for j in rng.integers(0, len(words), 4))
                    for _ in range(512)]

    def make_rows(keys):
        m = len(keys)
        return list(zip(
            rng.integers(1, max(2, n // 10), m).tolist(),
            np.array(STATUS)[rng.integers(0, 3, m)].tolist(),
            rng.integers(100, 5_000_000, m).tolist(),
            rng.integers(8766, 10957, m).tolist(),
            np.array(PRIORITY)[rng.integers(0, 5, m)].tolist(),
            np.array(comment_pool)[rng.integers(0, 512, m)].tolist()))

    keys = (np.arange(1, n + 1, dtype=np.int64) * 7).tolist()
    base = dict(zip(keys, make_rows(keys)))
    _write(os.path.join(tmp, "base.parquet"), base)
    replay = _Replay(dict(base))
    next_key = keys[-1] + 7
    hot_hi = keys[int(n * HOT_RANGE)]

    alive_at: dict[int, tuple] = {}

    def pick(m: int, hot: bool = True) -> list[int]:
        v = len(replay.history)
        if v not in alive_at:
            alive_at.clear()
            alive = sorted(replay.state)
            alive_at[v] = (alive, [k for k in alive if k <= hot_hi])
        alive, hot_keys = alive_at[v]
        out: set[int] = set()
        while len(out) < m:
            pool = hot_keys if (hot and hot_keys
                                and rng.random() < HOT_SHARE) else alive
            out.add(pool[int(rng.integers(0, len(pool)))])
        return sorted(out)

    touched = max(1, round(n * WRITE_SHARE))
    n_ins = touched
    n_up = round(touched * MERGE_UPDATES_PER_INSERT)
    ops = []
    seq = WARM + CYCLE * cfg["cycles"]
    version = 0
    for j, kind in enumerate(seq):
        op = {"kind": kind}
        if kind == "merge":
            up = pick(n_up)
            ins = [next_key + 7 * i for i in range(n_ins)]
            next_key += 7 * len(ins)
            rows = {}
            for k, r in zip(up, make_rows(up)):
                old = replay.state[k]
                rows[k] = (old[0], r[1], r[2], old[3], old[4], old[5])
            rows.update(zip(ins, make_rows(ins)))
            name = f"merge-{j:04d}.parquet"
            _write(os.path.join(tmp, name), rows)
            op["file"] = name
            op["rows"] = len(rows)
            delta = {k: (replay.state.get(k), r) for k, r in rows.items()}
        elif kind in ("delete_cow", "delete_mor"):
            ks = pick(touched, hot=False)
            op["keys"] = ks
            op["rows"] = len(ks)
            delta = {k: (replay.state[k], None) for k in ks}
        elif kind == "update":
            lo = pick(1)[0]
            hi = lo + 7 * (touched - 1)
            op["lo"], op["hi"] = lo, hi
            hit = [k for k in replay.state if lo <= k <= hi]
            op["rows"] = len(hit)
            delta = {}
            for k in hit:
                r = replay.state[k]
                delta[k] = (r, (r[0], r[1], r[2] + 1, r[3], r[4], r[5]))
        elif kind == "optimize":
            op["rows"] = 0
            delta = {}
        elif kind == "read_point":
            # keys are multiples of 7, so next_key + 1, + 2, ... are
            # never inserted
            present = pick(PROBE_PRESENT)
            op["keys"] = present + [next_key + 1 + a
                                    for a in range(PROBE_ABSENT)]
            op["expect"] = [[k, *replay.state[k]] for k in present]
        elif kind == "read_scan":
            op["expect"] = replay.history[-1]
        elif kind == "read_asof":
            op["back"] = ASOF_BACK
            op["expect"] = replay.history[-1 - ASOF_BACK]
        elif kind == "read_changes":
            op["back"] = CHANGES_BACK
            op["expect"] = replay.changes(CHANGES_BACK)
        if kind in COMMITS:
            replay.commit(delta)
            version += 1
            op["version"] = version          # offset from the bootstrap
            if kind in ("delete_cow", "delete_mor", "update"):
                op["expect"] = op["rows"]
        ops.append(op)
    man = {"size": size, "seed": seed, "rows": n, "files": cfg["files"],
           "warm": len(WARM), "ops": ops, "history": replay.history,
           "hot_share": HOT_SHARE, "hot_range": HOT_RANGE,
           "merge_inserts": n_ins, "merge_updates": n_up,
           "delete_keys": touched, "update_span": touched,
           "probe": [PROBE_PRESENT, PROBE_ABSENT]}
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(man, f)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return man


def _write(path: str, rows: dict) -> None:
    ks = list(rows)
    vals = list(zip(*rows.values())) if rows else [[]] * 6
    pq.write_table(pa.table({
        "o_orderkey": pa.array(ks, pa.int64()),
        "o_custkey": pa.array(vals[0], pa.int64()),
        "o_status": pa.array(vals[1], pa.string()),
        "o_cents": pa.array(vals[2], pa.int64()),
        "o_orderdate": pa.array(np.array(vals[3], dtype="datetime64[D]")),
        "o_priority": pa.array(vals[4], pa.string()),
        "o_comment": pa.array(vals[5], pa.string()),
    }), path, compression="zstd")


class Workload:
    name = "table_commits"
    setup_reps = 3

    def __init__(self, ctx, size: str):
        self.ctx = ctx
        self.man = generate(ctx.scratch.cache, ctx.seed, size)
        self.dir = input_dir(ctx.scratch.cache, "table_commits", size,
                             ctx.seed, __file__)
        self.next_op = self.man["warm"]
        self.rows_changed = 0
        self.bytes_added = 0
        self.files_added: list[int] = []
        self.bytes_per_commit: list[int] = []
        self.prune: list[float] = []

    def describe(self) -> dict:
        m = self.man
        return {"rows": m["rows"], "files": m["files"],
                "merge_inserts": m["merge_inserts"],
                "merge_updates": m["merge_updates"],
                "hot_op_share": m["hot_share"],
                "hot_key_share": m["hot_range"],
                "delete_keys": m["delete_keys"],
                "update_span_keys": m["update_span"],
                "lookup_probe_present_absent": m["probe"],
                "ops_available": len(m["ops"]) - m["warm"],
                "cycle": CYCLE}

    def start(self, spark) -> None:
        self.spark = spark

    def setup_rep(self, rep: int) -> None:
        """Bootstrap a fresh table (and apply the warm-up ops, if any);
        the last rep's table is the one the timed loop continues on."""
        from pyspark.sql import functions as F
        from filters_spark.sources import versioned
        path = self.ctx.scratch.path("data", f"table-{rep}")
        df = self.spark.read.parquet(os.path.join(self.dir, "base.parquet"))
        self.v0 = self.ctx.rec.call(
            "versioned.bootstrap", "commit", versioned.write_versioned,
            df.repartitionByRange(self.man["files"], F.col("o_orderkey")),
            path, stats_cols=["o_orderkey"], bloom_cols=["o_orderkey"],
            ndv_cols=["o_custkey"], hdr_cols=["o_cents"])
        self.path = path
        for j in range(self.man["warm"]):
            self._op(j)
        if rep > 0:
            shutil.rmtree(self.ctx.scratch.path("data", f"table-{rep - 1}"),
                          ignore_errors=True)

    def exhausted(self) -> bool:
        return self.next_op >= len(self.man["ops"])

    def peek(self) -> str:
        return self.man["ops"][self.next_op]["kind"]

    def at_boundary(self) -> bool:
        return (self.next_op - self.man["warm"]) % len(CYCLE) == 0

    def iteration(self, i: int) -> str:
        j = self.next_op
        self.next_op += 1
        self._op(j)
        return self.man["ops"][j]["kind"]

    def _op(self, j: int) -> None:
        from pyspark.sql import functions as F
        from filters_spark.sources import versioned as V
        rec, spark, path = self.ctx.rec, self.spark, self.path
        op = self.man["ops"][j]
        kind = op["kind"]
        name = f"versioned.{kind}"
        key = "o_orderkey"
        if kind in COMMITS:
            with rec.untimed():
                before = dir_bytes(path)
                if kind == "merge":
                    batch = spark.read.parquet(
                        os.path.join(self.dir, op["file"]))
            if kind == "merge":
                out = rec.call(name, "commit", V.merge_versioned, spark, path,
                               batch, key, store_changes=True,
                               file_reuse=True, rows=op["rows"])
                version = out
            elif kind in ("delete_cow", "delete_mor"):
                cond = F.col(key).isin(op["keys"])
                mode = "cow" if kind == "delete_cow" else "mor"
                out = rec.call(name, "commit", V.delete_where, spark, path,
                               cond, store_changes_key=key, mode=mode,
                               key=key, rows=op["rows"])
                version = out["version"]
                got = out["n_deleted"]
            elif kind == "update":
                cond = F.col(key).between(op["lo"], op["hi"])
                out = rec.call(name, "commit", V.update_where, spark, path,
                               cond, {"o_cents": "o_cents + 1"},
                               store_changes_key=key, rows=op["rows"])
                version = out["version"]
                got = out.get("n_updated")
            else:
                version = rec.call(name, "commit", V.optimize_versioned,
                                   spark, path, zorder=[key],
                                   n_files=self.man["files"])
            with rec.untimed():
                if "expect" in op:
                    rec.check(f"op {j} {kind} rows", got == op["expect"],
                              f"got {got} want {op['expect']}")
                rec.check(f"op {j} {kind} version",
                          version == self.v0 + op["version"],
                          f"got {version} want {self.v0 + op['version']}")
                after = dir_bytes(path)
                if rec.timed:
                    self.files_added.append(after[0] - before[0])
                    self.bytes_per_commit.append(after[1] - before[1])
                    self.bytes_added += after[1] - before[1]
                    self.rows_changed += op["rows"]
            return
        if kind == "read_point":
            keys = op["keys"]

            def probe():
                dfs = [V.read_version(spark, path, where=(key, k, k))
                       .where(F.col(key) == k) for k in keys]
                union = dfs[0]
                for df in dfs[1:]:
                    union = union.unionByName(df)
                return dfs, union.select(*COLS).collect()
            dfs, rows = rec.call(name, "read", probe)
            with rec.untimed():
                got = sorted([r[c] for c in COLS] for r in rows)
                for g in got:
                    g[4] = (g[4] - _EPOCH).days
                rec.check(f"op {j} point read {keys}", got == op["expect"],
                          f"got {got} want {op['expect']}")
                if rec.traced_iteration:
                    full = len(V.read_version(spark, path).inputFiles())
                    self.prune.append(statistics.mean(
                        len(df.inputFiles()) for df in dfs) / max(1, full))
            return
        if kind in ("read_scan", "read_asof"):
            with rec.untimed():
                version = None if kind == "read_scan" else \
                    V.latest_version(path) - op["back"]
            row = rec.call(name, "read", lambda: V.read_version(
                spark, path, version=version).selectExpr(*AGG_SQL).collect())
            with rec.untimed():
                got = [int(row[0][c] or 0) for c in ("c", "s1", "s2", "s3")]
                rec.check(f"op {j} {kind}", got == op["expect"],
                          f"got {got} want {op['expect']}")
            return
        if kind == "read_changes":
            with rec.untimed():
                frm = V.latest_version(path) - op["back"]
            rows = rec.call(name, "read", lambda: V.read_changes(
                spark, path, key, from_version=frm)
                .groupBy("_change_type").count().collect())
            with rec.untimed():
                got = {t: 0 for t in op["expect"]}
                got.update({r["_change_type"]: r["count"] for r in rows})
                rec.check(f"op {j} read_changes", got == op["expect"],
                          f"got {got} want {op['expect']}")
            return
        raise ValueError(kind)

    def finish(self) -> None:
        from filters_spark.sources import versioned as V
        rec = self.ctx.rec
        done = self.next_op
        want = _agg_after(self.man, done)
        row = V.read_version(self.spark, self.path).selectExpr(
            *AGG_SQL).collect()[0]
        got = [int(row[c] or 0) for c in ("c", "s1", "s2", "s3")]
        last = next((op for op in reversed(rec.ops)
                     if op.kind == "commit"), None)
        rec.check("final snapshot", got == want, f"got {got} want {want}",
                  op=last)
        issues = V.verify_versioned(self.path, strict=True)
        rec.check("verify_versioned(strict=True)", issues == [],
                  "; ".join(issues)[:300], op=last)

    # -- end-to-end inputs ----------------------------------------------
    def rows_per_s(self, iters: dict[int, float]) -> float:
        """CDC ingest rate: merge batch rows ÷ merge wall, median."""
        return statistics.median(op.rows / op.wall for op in self.ctx.rec.ops
                                 if op.name == "versioned.merge")

    def write_bytes_per_row(self) -> float:
        return self.bytes_added / max(1, self.rows_changed)

    def layer_metrics(self, calls: list[dict]) -> dict:
        merges = [op.wall for op in self.ctx.rec.ops
                  if op.name == "versioned.merge"]
        q = len(merges) // 4
        drift = (statistics.median(merges[-q:]) / statistics.median(merges[:q])
                 if q else 0.0)
        med = statistics.median
        return {
            "versioned.files_added_per_commit":
                med(self.files_added) if self.files_added else 0.0,
            "versioned.bytes_added_per_commit":
                med(self.bytes_per_commit) if self.bytes_per_commit else 0.0,
            "versioned.prune_ratio": med(self.prune) if self.prune else 0.0,
            "versioned.commit_drift": drift,
        }


_EPOCH = __import__("datetime").date(1970, 1, 1)


def _agg_after(man: dict, done: int) -> list[int]:
    """Replay aggregates of the version the last of the first ``done``
    ops committed."""
    commits = [op for op in man["ops"][:done] if op["kind"] in COMMITS]
    return man["history"][commits[-1]["version"] if commits else 0]
