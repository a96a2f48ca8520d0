"""validate_ingest: raw all-string lineitem-shaped batches through the
paper's own path — ``ValidationSchema.validate`` → ``sinks.write_clean``
→ ``sinks.write_dead_letter`` → ``error_code_counts().collect()`` —
and then the landed clean rows' free-text comments through the text
operators of ``filters_spark.functions``: ``strip_html`` →
``fix_mojibake`` (a pandas UDF, so Python workers) →
``exact_text_dedup`` → one bounded per-domain rollup.

Each batch is distinct seeded input.  Bad values are planted per field
at a seeded share, each with the error code the filter chain must
report, so the clean count, the per-(field, code) counts, the
dead-letter partitions and a clean-value checksum are known by
construction and checked with DuckDB against what landed on disk.
Comments from the "web" source arrive wrapped in HTML and a planted
share arrives double-encoded, so the curated rollup is known by
construction too.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from harness import dir_bytes, input_dir

SIZES = {
    # rows per batch, timed-pool batches, set-up (warm-up) batches
    "full": {"rows": 4_000, "pool": 30, "warm": 3},
    "tiny": {"rows": 2_000, "pool": 4, "warm": 3},
}

FILES_PER_BATCH = 4
# Per-field reject share, drawn per field and seed: a few percent.
REJECT_SHARE = (0.02, 0.05)
SOURCES = ["web", "edi", "api"]
# Comments of "web" rows arrive wrapped in markup; strip_html must
# give back the plain comment.
HTML = '<div class="note"><p>{}</p><!-- web form --></div>'
# Double-encoded comments: a sub-percent fringe, the share the
# fix_mojibake docstring gives for a modern corpus.  Each carries one
# accented word, so the repair has something to undo.
MOJIBAKE_SHARE = 0.005
ACCENTED = ["café", "naïve", "über", "señor", "façade", "résumé", "schön"]
SHIPMODES = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]
INSTRUCT = ["COLLECT COD", "DELIVER IN PERSON", "NONE", "TAKE BACK RETURN"]

# The raw batch has 20 string columns; the schema validates 8 of them
# and passes the rest through.  Wider schemas do not fit a run today:
# planning ``error_code_counts`` grows steeply with the number of
# multi-step chains (measured on a 1-row input: 10 fields ~0.6 s, 12
# fields ~2.2 s, 13 with one Decimal|Min|Max chain ~9 s; 12 such
# chains exhaust a 1 GB driver heap in the optimizer), and one pass
# over 60k rows in one task costs ~2 s with 4 fields, ~7 s with 8 and
# ~13 s with 12.
FIELDS = [
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
    "l_linestatus", "l_shipdate", "l_commitdate", "l_receiptts",
    "l_shipinstruct", "l_shipmode", "l_comment", "l_uuid", "l_meta",
    "l_ip", "l_email",
]
# validated field -> [(bad value template, expected error code)].  The
# order is the schema's field order, which is also the order of a row's
# error array, so it decides the dead-letter `_first_code`.
BAD = {
    "l_orderkey": [("x{k}", "not_numeric"), ("{k}.5", "not_int")],
    "l_extendedprice": [("n/a", "not_numeric"), ("1.2.3", "not_numeric")],
    "l_returnflag": [("Q", "not_valid_choice")],
    "l_shipdate": [("2024-13-45", "not_date"), ("tomorrow", "not_date")],
    "l_receiptts": [("nope", "not_datetime")],
    "l_uuid": [("not-a-uuid", "not_uuid")],
    "l_meta": [("{bad", "not_json")],
    "l_email": [("no-at-sign", "malformed")],
}


def schema():
    import filters_spark as fs
    return fs.ValidationSchema({
        "l_orderkey": fs.Required() | fs.Int(),
        "l_extendedprice": fs.DecimalOf(12, 2),
        "l_returnflag": fs.Strip() | fs.Choice(["A", "N", "R"]),
        "l_shipdate": fs.Date(),
        "l_receiptts": fs.Datetime(),
        "l_uuid": fs.Uuid(),
        "l_meta": fs.JsonDecode(),
        "l_email": fs.Strip() | fs.Matches(r"^[a-z0-9.]+@[a-z]+\.com$"),
    })


# ---------------------------------------------------------------------
# Input generation
# ---------------------------------------------------------------------

def _s(a) -> pa.Array:
    return pc.cast(pa.array(a), pa.string())


def _cat(*parts) -> pa.Array:
    return pc.binary_join_element_wise(*parts, "")


def _pick(rng, n, options) -> pa.Array:
    return pa.array(np.array(options, dtype=object)[
        rng.integers(0, len(options), n)], pa.string())


def _dec(cents: np.ndarray) -> pa.Array:
    return _cat(_s(cents // 100), ".",
                pc.utf8_lpad(_s(cents % 100), 2, "0"))


# formatted-string lookup tables: dates from DAY0 (1993-12-02) for
# 2400 days in the three accepted layouts, and every time of day
DAY0 = 8736
DATE_LUT = [pc.strftime(pa.array(np.arange(DAY0, DAY0 + 2400)
                                 .astype("datetime64[D]")), format=f)
            for f in ("%Y-%m-%d", "%Y/%m/%d", "%m/%d/%Y")]
TIME_LUT = pc.strftime(pa.array(np.arange(86400).astype("datetime64[s]")),
                       format="%H:%M:%S")


def _pool(rng, n: int, make) -> list[str]:
    return [make(rng) for _ in range(n)]


def _comment(rng) -> str:
    words = ["ironic", "final", "regular", "deposits", "packages", "quickly",
             "furiously", "blithely", "accounts", "requests", "pending"]
    out = " ".join(words[i] for i in rng.integers(0, len(words), 6))
    return out[:int(rng.integers(10, 45))].strip()


def _uuid(rng) -> str:
    h = "".join(f"{x:08x}" for x in rng.integers(0, 2**32, 4))
    return f"{h[:8]}-{h[8:12]}-4{h[13:16]}-a{h[17:20]}-{h[20:32]}"


def _batch(rng, n: int, key0: int, shares: dict,
           pools: dict) -> tuple[pa.Table, dict]:
    """One raw batch plus its expected outcome."""
    k = np.arange(key0, key0 + n, dtype=np.int64)
    qty = rng.integers(100, 5001, n)                 # cents, 1.00..50.00
    price = rng.integers(90_000, 10_500_000, n)
    disc = rng.integers(0, 11, n)
    tax = rng.integers(0, 9, n)
    ship_days = rng.integers(8766, 10957, n)         # 1994..1999
    commit_days = ship_days + rng.integers(-30, 31, n)
    receipt_s = (ship_days + rng.integers(1, 31, n)) * 86400 \
        + rng.integers(0, 86400, n)
    comment_null = rng.random(n) < 0.01
    modes = rng.integers(0, len(SHIPMODES), n)
    pad = ["", " ", "  "]
    instr = rng.integers(0, len(INSTRUCT), n)

    def fmt_dates(days, variant):
        idx = pa.array(days - DAY0)
        return pc.choose(pa.array(variant, pa.int8()),
                         *[pc.take(lut, idx) for lut in DATE_LUT])

    r_day = pa.array(receipt_s // 86400 - DAY0)
    r_time = pc.take(TIME_LUT, pa.array(receipt_s % 86400))
    micros = rng.integers(0, 1_000_000, n)
    ts_variant = rng.integers(0, 3, n)
    receipt_frac = np.where(ts_variant == 2, micros, 0)
    src = rng.integers(0, len(SOURCES), n)
    moji = rng.random(n) < MOJIBAKE_SHARE
    true_text = np.array(pools["comment"], dtype=object)[
        rng.integers(0, len(pools["comment"]), n)]
    raw_text = true_text.copy()
    for j in np.flatnonzero(moji):
        true_text[j] += " " + ACCENTED[int(rng.integers(0, len(ACCENTED)))]
        raw_text[j] = true_text[j].encode("utf-8").decode("cp1252")
    web = src == 0
    raw_text[web] = [HTML.format(t) for t in raw_text[web]]
    comments = pa.array(raw_text, pa.string())
    cols = {
        "l_orderkey": _s(k),
        "l_partkey": _s(rng.integers(1, 200_000, n)),
        "l_suppkey": _s(rng.integers(1, 10_000, n)),
        "l_linenumber": _s(rng.integers(1, 8, n)),
        "l_quantity": _dec(qty),
        "l_extendedprice": _dec(price),
        "l_discount": _cat("0.", pc.utf8_lpad(_s(disc), 2, "0")),
        "l_tax": _cat("0.", pc.utf8_lpad(_s(tax), 2, "0")),
        "l_returnflag": _cat(_pick(rng, n, pad),
                             _pick(rng, n, ["A", "N", "R"]),
                             _pick(rng, n, pad)),
        "l_linestatus": _pick(rng, n, ["O", "F", " O", "F "]),
        "l_shipdate": fmt_dates(ship_days, rng.integers(0, 3, n)),
        "l_commitdate": fmt_dates(commit_days, rng.integers(0, 3, n)),
        "l_receiptts": pc.choose(
            pa.array(ts_variant, pa.int8()),
            _cat(pc.take(DATE_LUT[0], r_day), " ", r_time),
            _cat(pc.take(DATE_LUT[0], r_day), "T", r_time),
            _cat(pc.take(DATE_LUT[0], r_day), " ", r_time, ".",
                 pc.utf8_lpad(_s(micros), 6, "0"))),
        "l_shipinstruct": pa.array(np.array(INSTRUCT, dtype=object)[instr],
                                   pa.string()),
        "l_shipmode": _cat(_pick(rng, n, pad),
                           pa.array(np.array(SHIPMODES, dtype=object)[modes],
                                    pa.string()),
                           _pick(rng, n, pad)),
        "l_comment": pc.if_else(pa.array(comment_null), pa.scalar(None,
                                pa.string()), comments),
        "l_uuid": pc.take(pools["uuid"], pa.array(
            rng.integers(0, len(pools["uuid"]), n))),
        "l_meta": _cat('{"src": "', pa.array(np.array(SOURCES, dtype=object)
                                             [src], pa.string()),
                       '", "n": ', _s(rng.integers(0, 1000, n)), "}"),
        "l_ip": _cat("10.", _s(rng.integers(0, 256, n)), ".",
                     _s(rng.integers(0, 256, n)), ".",
                     _s(rng.integers(1, 255, n))),
        "l_email": _cat(_pick(rng, n, ["ops", "buyer", "a.b", "x9"]), "@",
                        _pick(rng, n, ["acme", "corp", "shop"]), ".com"),
    }
    key_s = _s(k)
    bad_any = np.zeros(n, dtype=bool)
    first_code = np.full(n, "", dtype=object)
    codes: dict[str, int] = {}
    for f in BAD:
        hit = rng.random(n) < shares[f]
        variant = rng.integers(0, len(BAD[f]), n)
        for v, (tmpl, code) in enumerate(BAD[f]):
            mask = hit & (variant == v)
            cnt = int(mask.sum())
            if not cnt:
                continue
            pre, _, post = tmpl.partition("{k}")
            bad = _cat(pre, key_s, post) if "{k}" in tmpl else \
                pa.scalar(tmpl, pa.string())
            cols[f] = pc.if_else(pa.array(mask), bad, cols[f])
            codes[f"{f}|{code}"] = codes.get(f"{f}|{code}", 0) + cnt
            first_code[mask & ~bad_any] = code
            bad_any |= mask
    ok = ~bad_any
    keep = ok & ~comment_null
    dl_codes = {str(c): int(v) for c, v in
                zip(*np.unique(first_code[bad_any].astype(str),
                               return_counts=True))}
    expect = {
        "rows": n,
        "clean": int(ok.sum()),
        "rejected": int(bad_any.sum()),
        "codes": codes,
        "dead_letter_first_codes": dl_codes,
        "checksum": {
            "orderkey": int(k[ok].sum()),
            "price_cents": int(price[ok].sum()),
            "shipdate_days": int(ship_days[ok].sum()),
            "receipt_us": int(receipt_s[ok].sum()) * 1_000_000
            + int(receipt_frac[ok].sum()),
        },
        "curated": _curate(k[keep].tolist(), instr[keep].tolist(),
                           true_text[keep].tolist()),
    }
    return pa.table({f: cols[f] for f in FIELDS}), expect


def _curate(keys: list[int], instr: list[int], texts: list[str]) -> dict:
    """Replay of the comment curation over a batch's clean rows:
    keep-first exact dedup (smallest key per text), then per shipping
    instruction [docs, Σkey, Σtokens, Σchars] of the survivors."""
    first: dict[str, tuple[int, int]] = {}
    for key, d, t in zip(keys, instr, texts):
        if t not in first or key < first[t][0]:
            first[t] = (key, d)
    out: dict[str, list[int]] = {}
    for t, (key, d) in first.items():
        agg = out.setdefault(INSTRUCT[d], [0, 0, 0, 0])
        agg[0] += 1
        agg[1] += key
        agg[2] += len(t.split(" "))
        agg[3] += len(t)
    return out


def generate(cache: str, seed: int, size: str) -> dict:
    """Write (or reuse) the seed's batches; returns the manifest."""
    cfg = SIZES[size]
    d = input_dir(cache, "validate_ingest", size, seed, __file__)
    man_path = os.path.join(d, "manifest.json")
    if os.path.exists(man_path):
        with open(man_path) as f:
            return json.load(f)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng([seed, 1])
    shares = {f: float(rng.uniform(*REJECT_SHARE)) for f in BAD}
    pools = {"comment": _pool(rng, 4096, _comment),
             "uuid": pa.array(_pool(rng, 4096, _uuid), pa.string())}
    batches = []
    for b in range(cfg["warm"] + cfg["pool"]):
        table, expect = _batch(rng, cfg["rows"], 1 + b * cfg["rows"], shares,
                               pools)
        # a batch lands as FILES_PER_BATCH part files, so the scan
        # splits into that many tasks
        name = f"batch-{b:03d}"
        os.makedirs(os.path.join(tmp, name))
        step = -(-table.num_rows // FILES_PER_BATCH)
        for p in range(FILES_PER_BATCH):
            pq.write_table(table.slice(p * step, step),
                           os.path.join(tmp, name, f"part-{p}.parquet"),
                           compression="zstd")
        batches.append({"file": name, **expect})
    man = {"size": size, "seed": seed, "rows_per_batch": cfg["rows"],
           "warm": cfg["warm"], "reject_share_per_field": shares,
           "batches": batches}
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(man, f)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    man["dir"] = d
    return man


# ---------------------------------------------------------------------
# Workload
# ---------------------------------------------------------------------

class Workload:
    name = "validate_ingest"
    # the first rep pays the cold start (class loading, JIT, Python
    # workers); three reps give a median of warm ones
    setup_reps = 3

    def __init__(self, ctx, size: str):
        self.ctx = ctx
        self.man = generate(ctx.scratch.cache, ctx.seed, size)
        self.dir = input_dir(ctx.scratch.cache, "validate_ingest", size,
                             ctx.seed, __file__)
        self.warm = self.man["warm"]
        self.next_batch = self.warm
        self.bytes_written = 0
        self.rows_written = 0
        self.batch_rows: dict[int, int] = {}

    def describe(self) -> dict:
        shares = self.man["reject_share_per_field"]
        rej = [b["rejected"] / b["rows"] for b in self.man["batches"]]
        return {"rows_per_batch": self.man["rows_per_batch"],
                "columns": len(FIELDS), "validated_fields": len(BAD),
                "batches_available": len(self.man["batches"]) - self.warm,
                "reject_share_per_field_min": round(min(shares.values()), 5),
                "reject_share_per_field_max": round(max(shares.values()), 5),
                "row_reject_share": round(float(np.mean(rej)), 5),
                "comment_html_share": round(1 / len(SOURCES), 5),
                "comment_mojibake_share": MOJIBAKE_SHARE}

    def start(self, spark) -> None:
        import duckdb
        self.spark = spark
        self.schema = schema()
        self.duck = duckdb.connect()

    def setup_rep(self, rep: int) -> None:
        """One set-up unit: a full batch on a warm-up input."""
        self._batch(rep, timed=False)

    def exhausted(self) -> bool:
        return self.next_batch >= len(self.man["batches"])

    def at_boundary(self) -> bool:
        return True

    def peek(self) -> str:
        return "batch"

    def iteration(self, i: int) -> str:
        self._batch(self.next_batch, timed=True)
        self.next_batch += 1
        return "batch"

    def _batch(self, b: int, timed: bool) -> None:
        from filters_spark.sources import sinks
        rec = self.ctx.rec
        meta = self.man["batches"][b]
        src = os.path.join(self.dir, meta["file"])
        out = self.ctx.scratch.path("data", f"batch-{b:03d}")
        clean_dir, dl_dir = out + "/clean", out + "/dead_letter"
        n = meta["rows"]
        df = rec.call("spark.read_parquet", "build",
                      lambda: self.spark.read.parquet(src))
        res = rec.call("schema.validate", "build", self.schema.validate, df)
        rec.call("sinks.write_clean", "commit", sinks.write_clean, res,
                 clean_dir, rows=meta["clean"])
        rec.call("sinks.write_dead_letter", "commit", sinks.write_dead_letter,
                 res, dl_dir, rows=meta["rejected"])
        counts = rec.call("schema.error_counts", "read",
                          lambda: res.error_code_counts().collect(), rows=n)
        plan = rec.call("functions.curate_plan", "build", self._curate_plan,
                        clean_dir)
        curated = rec.call("functions.curate_comments", "read", plan.collect,
                           rows=meta["clean"])
        with rec.untimed():
            ops = rec.ops[-5:] if timed else [None] * 5
            got = {f"{r['field']}|{r['code']}": r["count"] for r in counts}
            rec.check(f"batch {b} error_code_counts", got == meta["codes"],
                      f"got {sorted(got.items())[:6]} want "
                      f"{sorted(meta['codes'].items())[:6]}", op=ops[2])
            got = {r["domain"]: [r["docs"], r["keys"], r["tokens"],
                                 r["chars"]] for r in curated}
            rec.check(f"batch {b} curated comments", got == meta["curated"],
                      f"got {got} want {meta['curated']}", op=ops[4])
            self._check_outputs(b, meta, clean_dir, dl_dir, ops)
            if timed:
                _, nbytes = dir_bytes(out)
                self.bytes_written += nbytes
                self.rows_written += n
                self.batch_rows[self.ctx.rec.iteration] = n
            shutil.rmtree(out, ignore_errors=True)

    def _curate_plan(self, clean_dir: str):
        """The lazy comment-curation plan over the landed clean rows."""
        from pyspark.sql import functions as F
        from filters_spark.functions import dedup, text
        d = (self.spark.read.parquet(clean_dir)
             .select("l_orderkey", "l_shipinstruct", "l_comment")
             .where(F.col("l_comment").isNotNull()))
        d = d.withColumn("l_comment", text.strip_html(F.col("l_comment")))
        d = text.fix_mojibake(d, "l_comment").drop("was_fixed")
        d = dedup.exact_text_dedup(d, "l_orderkey", "l_comment")
        return d.groupBy(F.col("l_shipinstruct").alias("domain")).agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("l_orderkey").alias("keys"),
            F.sum(text.token_count(F.col("l_comment"))).alias("tokens"),
            F.sum(F.length("l_comment")).alias("chars"))

    def _check_outputs(self, b, meta, clean_dir, dl_dir, ops) -> None:
        rec = self.ctx.rec
        row = self.duck.sql(f"""
            SELECT count(*), sum(l_orderkey),
                   CAST(sum(l_extendedprice * 100) AS BIGINT),
                   sum(datediff('day', DATE '1970-01-01', l_shipdate)),
                   CAST(sum(CAST(epoch_us(l_receiptts) AS HUGEINT))
                        AS VARCHAR)
            FROM read_parquet('{clean_dir}/*.parquet')""").fetchone()
        want = meta["checksum"]
        got = {"clean": row[0], "orderkey": row[1], "price_cents": row[2],
               "shipdate_days": row[3], "receipt_us": row[4]}
        exp = {"clean": meta["clean"], **want}
        rec.check(f"batch {b} clean rows/checksum",
                  {k: int(v or 0) for k, v in got.items()} == exp,
                  f"got {got} want {exp}", op=ops[0])
        dl = dict(self.duck.sql(f"""
            SELECT _first_code, count(*) FROM read_parquet(
              '{dl_dir}/*/*.parquet', hive_partitioning = true)
            GROUP BY 1""").fetchall()) if meta["rejected"] else {}
        rec.check(f"batch {b} dead letter", dl ==
                  meta["dead_letter_first_codes"],
                  f"got {dl} want {meta['dead_letter_first_codes']}",
                  op=ops[1])

    # -- end-to-end inputs ----------------------------------------------
    def rows_per_s(self, iters: dict[int, float]) -> float:
        import statistics
        return statistics.median(self.batch_rows[i] / w
                                 for i, w in iters.items()
                                 if i in self.batch_rows)

    def write_bytes_per_row(self) -> float:
        return self.bytes_written / max(1, self.rows_written)

    def finish(self) -> None:
        pass

    def layer_metrics(self, spans: list[dict]) -> dict:
        """validate.input_scans_per_batch: input records the batch's
        validation calls read ÷ batch rows — how many times each input
        row was scanned (the curation calls read the landed clean rows,
        not the input, and are left out); functions.build_s: median
        curation plan build."""
        per_iter: dict[int, int] = {}
        for s in spans:
            if s.get("group") and s["iteration"] in self.batch_rows \
                    and not s["name"].startswith("functions."):
                per_iter[s["iteration"]] = per_iter.get(s["iteration"], 0) \
                    + s["tasks"]["in_records"]
        import statistics
        scans = [v / self.batch_rows[i] for i, v in per_iter.items()]
        build = [op.wall for op in self.ctx.rec.ops
                 if op.name == "functions.curate_plan"]
        return {"validate.input_scans_per_batch":
                statistics.median(scans) if scans else 0.0,
                "functions.build_s":
                statistics.median(build) if build else 0.0}
