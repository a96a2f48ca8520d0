"""corpus_curate: distinct seeded document shards through the LLM-data
operators of ``filters_spark.functions``.

Per shard: ``strip_html`` → ``fix_mojibake`` (pandas UDF) →
``repetition_gate`` → ``exact_text_dedup`` → ``minhash_dedup_pairs`` +
``connected_components`` → ``decontaminate`` → quality/language scores
→ ``domain_mixture_sample`` + ``pack_greedy`` → ``write_training_shards``,
then one bounded per-source rollup and the shard manifest.

Shards carry planted HTML, mojibake, repeated boilerplate, exact and
near duplicates, and eval-set n-gram contamination across five sources
and four languages.  Every stage is replayed in Python at generation
time (the mixture draw and the packer are deterministic functions of
the data), so the surviving ids, the repaired texts and the per-source
rollup are known before the run and checked against the written
shards with DuckDB.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from harness import dir_bytes, input_dir

SIZES = {
    "full": {"docs": 3000, "pool": 6, "warm": 3},
    "tiny": {"docs": 300, "pool": 3, "warm": 3},
}
SOURCES = ["src0", "src1", "src2", "src3", "src4"]
TARGETS = {"src0": 0.3, "src1": 0.25, "src2": 0.2, "src3": 0.15, "src4": 0.1}
LANGS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "es": ["el", "la", "de", "y", "que", "en", "un", "una", "es", "por"],
    "de": ["der", "die", "das", "und", "ist", "ein", "eine", "zu", "mit"],
    "fr": ["le", "la", "de", "et", "un", "une", "est", "que", "pour", "dans"],
}
SHARE = {"html": 0.2, "mojibake": 0.03, "boilerplate": 0.03,
         "exact_dup": 0.05, "near_dup": 0.05, "contaminated": 0.02}
ACCENTED = ["café", "naïve", "über", "señor",
            "façade", "résumé", "schön"]
HTML = ("<html><head><style>p {{ color: red }}</style>"
        "<script>var x = 1;</script></head><body><!-- nav --><div><p>"
        "{}</p></div></body></html>")
DECONTAM_N = 8
MAX_DUP_FRAC = 0.85
PACK_BUDGET = 512
N_SHARDS = 4
MINHASH = {"n_hashes": 32, "n_bands": 8, "threshold": 0.5}


# ---------------------------------------------------------------------
# Generation and replay
# ---------------------------------------------------------------------

def _grams(toks: list[str], n: int) -> set:
    return {tuple(toks[i:i + n]) for i in range(max(len(toks) - n, 0) + 1)}


def _uniform(key: int) -> float:
    return int(hashlib.md5(str(key).encode()).hexdigest()[:8], 16) \
        / float(16 ** 8)


def _ffd(items: list[tuple[int, int]]) -> dict[int, int]:
    """First-fit decreasing over (id, length); id -> bin."""
    bins: list[int] = []
    out = {}
    for doc, ln in sorted(items, key=lambda t: (-t[1], t[0])):
        if ln > PACK_BUDGET:
            bins.append(-1)
            out[doc] = len(bins) - 1
            continue
        for i, cap in enumerate(bins):
            if cap >= ln:
                bins[i] = cap - ln
                out[doc] = i
                break
        else:
            bins.append(PACK_BUDGET - ln)
            out[doc] = len(bins) - 1
    return out


def _shard(rng, n: int, id0: int, vocab: list[str], evals: list[list[str]]):
    """One shard's raw docs plus the replayed expected outcome."""
    ids = np.arange(id0, id0 + n, dtype=np.int64)
    rng.shuffle(ids)                       # ids not in generation order
    ids = ids.tolist()
    kinds = rng.choice(list(SHARE) + ["plain"], n,
                       p=list(SHARE.values()) + [1 - sum(SHARE.values())])
    src = [SOURCES[i] for i in rng.integers(0, len(SOURCES), n)]
    lang = list(LANGS)
    plain: dict[int, str] = {}             # the text each stage should see
    raw: dict[int, str] = {}
    for i, doc in enumerate(ids):
        sw = LANGS[lang[int(rng.integers(0, len(lang)))]]
        L = int(rng.integers(40, 160))
        use_sw = (rng.random(L) < 0.3).tolist()
        toks = [sw[b] if u else vocab[a] for a, b, u in zip(
            rng.integers(0, len(vocab), L).tolist(),
            rng.integers(0, len(sw), L).tolist(), use_sw)]
        if kinds[i] == "mojibake":
            toks[int(rng.integers(0, L))] = ACCENTED[
                int(rng.integers(0, len(ACCENTED)))]
        if kinds[i] == "contaminated":
            e = evals[int(rng.integers(0, len(evals)))]
            at = int(rng.integers(0, L))
            toks[at:at] = e[:10]
        if kinds[i] == "boilerplate":
            toks = ["click", "here", "to", "subscribe"] * 25
        plain[doc] = " ".join(toks)
        if kinds[i] == "html":
            raw[doc] = HTML.format(plain[doc])
        elif kinds[i] == "mojibake":
            raw[doc] = plain[doc].encode("utf-8").decode("cp1252")
        else:
            raw[doc] = plain[doc]
    base = [d for d, k in zip(ids, kinds) if k == "plain"]
    for doc, k in zip(ids, kinds):
        if k in ("exact_dup", "near_dup") and base:
            b = base[int(rng.integers(0, len(base)))]
            plain[doc] = plain[b] if k == "exact_dup" else \
                plain[b] + " " + vocab[int(rng.integers(0, len(vocab)))]
            raw[doc] = plain[doc]
    # replay --------------------------------------------------------
    alive = [d for d in ids
             if (lambda t: (len(t) - len(set(t))) / len(t))(
                 plain[d].split(" ")) <= MAX_DUP_FRAC]
    first: dict[str, int] = {}
    for d in alive:
        first[plain[d]] = min(first.get(plain[d], d), d)
    alive = [d for d in alive if first[plain[d]] == d]
    sh = {d: _grams(plain[d].split(" "), 3) for d in alive}
    # near-duplicate pairs: the planted ones (Jaccard >= 0.97); random
    # docs share almost no 3-grams.  Components by union-find, each
    # labelled with its smallest id (connected_components' contract).
    parent = {d: d for d in alive}

    def root(d):
        while parent[d] != d:
            d = parent[d]
        return d

    by_text = {plain[d]: d for d in alive}
    for d in alive:
        b = by_text.get(plain[d].rsplit(" ", 1)[0])
        if b is not None and b != d:
            j = len(sh[d] & sh[b]) / len(sh[d] | sh[b])
            if j >= MINHASH["threshold"]:
                ra, rb = root(d), root(b)
                parent[max(ra, rb)] = min(ra, rb)
    alive = [d for d in alive if root(d) == d]
    bench = set().union(*(_grams(e, DECONTAM_N) for e in evals))
    contaminated = {d for d in alive
                    if _grams(plain[d].split(" "), DECONTAM_N) & bench}
    alive = [d for d in alive if d not in contaminated]
    source = dict(zip(ids, src))
    counts = {s: sum(1 for d in alive if source[d] == s) for s in SOURCES}
    S = min(counts[s] / TARGETS[s] for s in SOURCES)
    rate = {s: min(1.0, TARGETS[s] * S / counts[s]) if counts[s] else 0.0
            for s in SOURCES}
    kept = [d for d in alive if _uniform(d) < rate[source[d]]]
    kept_set = set(kept)
    rollup = {}
    for s in SOURCES:
        items = [(d, len(plain[d].split(" "))) for d in kept
                 if source[d] == s]
        if items:
            bins = _ffd(items)
            rollup[s] = [len(items), len(set(bins.values())),
                         sum(ln for _, ln in items)]
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "source": pa.array(src, pa.string()),
        "text": pa.array([raw[d] for d in ids], pa.string()),
    })
    expect = {
        "docs": n,
        "kept": sorted(kept),
        "rollup": rollup,
        "repaired": {str(d): plain[d] for d, k in zip(ids, kinds)
                     if k == "mojibake" and d in kept_set},
        "contaminated": sorted(contaminated),
        "planted": {k: int((kinds == k).sum()) for k in SHARE},
    }
    return table, expect


def generate(cache: str, seed: int, size: str) -> dict:
    cfg = SIZES[size]
    d = input_dir(cache, "corpus_curate", size, seed, __file__)
    man_path = os.path.join(d, "manifest.json")
    if os.path.exists(man_path):
        with open(man_path) as f:
            return json.load(f)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng([seed, 3])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = ["".join(letters[rng.integers(0, 26, int(rng.integers(3, 9)))])
             for _ in range(3000)]
    # eval passages use their own vocabulary (upper-case-free, but
    # digit-suffixed) so only planted slices can match an 8-gram
    evals = [[f"{vocab[int(j)]}{int(j) % 10}" for j in
              rng.integers(0, len(vocab), 20)] for _ in range(40)]
    pq.write_table(pa.table({"text": [" ".join(e) for e in evals]}),
                   os.path.join(tmp, "eval.parquet"))
    shards = []
    for s in range(cfg["warm"] + cfg["pool"]):
        table, expect = _shard(rng, cfg["docs"], 1 + s * cfg["docs"],
                               vocab, evals)
        name = f"shard-{s:03d}.parquet"
        pq.write_table(table, os.path.join(tmp, name), compression="zstd")
        shards.append({"file": name, **expect})
    man = {"size": size, "seed": seed, "docs_per_shard": cfg["docs"],
           "warm": cfg["warm"], "planted_share": SHARE, "shards": shards}
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(man, f)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return man


# ---------------------------------------------------------------------
# Workload
# ---------------------------------------------------------------------

class Workload:
    name = "corpus_curate"
    setup_reps = 3

    def __init__(self, ctx, size: str):
        self.ctx = ctx
        self.man = generate(ctx.scratch.cache, ctx.seed, size)
        self.dir = input_dir(ctx.scratch.cache, "corpus_curate", size,
                             ctx.seed, __file__)
        self.next_shard = self.man["warm"]
        self.shard_docs: dict[int, int] = {}
        self.bytes_written = 0
        self.docs_written = 0
        self.precision: list[float] = []

    def describe(self) -> dict:
        kept = [len(s["kept"]) / s["docs"] for s in self.man["shards"]]
        return {"docs_per_shard": self.man["docs_per_shard"],
                "shards_available": len(self.man["shards"]) - self.man["warm"],
                "planted_share": self.man["planted_share"],
                "sources": len(SOURCES), "languages": len(LANGS),
                "kept_share": round(float(np.mean(kept)), 4)}

    def start(self, spark) -> None:
        import duckdb
        self.spark = spark
        self.duck = duckdb.connect()
        self.bench = spark.read.parquet(os.path.join(self.dir, "eval.parquet"))

    def setup_rep(self, rep: int) -> None:
        self._shard(rep)

    def exhausted(self) -> bool:
        return self.next_shard >= len(self.man["shards"])

    def at_boundary(self) -> bool:
        return True

    def peek(self) -> str:
        return "shard"

    def iteration(self, i: int) -> str:
        self._shard(self.next_shard)
        self.next_shard += 1
        return "shard"

    def _pipeline(self, docs):
        """The lazy stages up to the near-duplicate pairs."""
        from pyspark.sql import functions as F
        from filters_spark.functions import dedup, text
        d = docs.withColumn("text", text.strip_html(F.col("text")))
        d = text.fix_mojibake(d, "text").drop("was_fixed")
        d = text.repetition_gate(d, "doc_id", "text",
                                 max_dup_line_frac=MAX_DUP_FRAC)
        d = dedup.exact_text_dedup(d, "doc_id", "text")
        pairs = dedup.minhash_dedup_pairs(d, "doc_id", "text", **MINHASH)
        return d, pairs

    def _finish_plan(self, d, comps):
        from pyspark.sql import functions as F
        from filters_spark.functions import dedup, packing, sampling, text
        drop = comps.where(F.col("comp") != F.col("node")) \
            .select(F.col("node").alias("doc_id"))
        d = d.join(drop, "doc_id", "left_anti")
        d = dedup.decontaminate(d, self.bench, "doc_id", "text",
                                n=DECONTAM_N)
        d = d.withColumn("quality", text.quality_score(F.col("text"))) \
            .withColumn("lang", text.lang_id(F.col("text")))
        mixed = sampling.domain_mixture_sample(d, "doc_id", "source",
                                               TARGETS)
        mixed = mixed.withColumn("n_tok", F.size(F.split("text", " ")))
        packed = packing.pack_greedy(mixed, "doc_id", "n_tok", PACK_BUDGET,
                                     partition_cols=["source"])
        return mixed.join(packed.select("doc_id", "bin"), "doc_id")

    def _shard(self, s: int) -> None:
        from pyspark.sql import functions as F
        from filters_spark.functions import dedup
        from filters_spark.sources import sinks
        rec = self.ctx.rec
        meta = self.man["shards"][s]
        src = os.path.join(self.dir, meta["file"])
        out = self.ctx.scratch.path("data", f"shard-{s:03d}")
        docs = rec.call("spark.read_parquet", "build",
                        lambda: self.spark.read.parquet(src))
        d, pairs = rec.call("functions.dedup_plan", "build",
                            self._pipeline, docs)
        comps = rec.call("dedup.connected_components", "build",
                         dedup.connected_components, pairs)
        final = rec.call("functions.curate_plan", "build",
                         self._finish_plan, d, comps)
        with rec.untimed():
            final = final.persist()
        try:
            manifest = rec.call("sinks.write_training_shards", "commit",
                                sinks.write_training_shards, final, "doc_id",
                                N_SHARDS, out, rows=len(meta["kept"]))
            man_rows = rec.call("sinks.shard_manifest", "read",
                                manifest.collect)
            rollup = rec.call("corpus.rollup", "read", lambda: final.groupBy(
                "source").agg(F.count(F.lit(1)).alias("n"),
                              F.countDistinct("bin").alias("bins"),
                              F.sum("n_tok").alias("tok")).collect())
        finally:
            with rec.untimed():
                final.unpersist()
        with rec.untimed():
            ops = rec.ops[-3:] if rec.timed else [None] * 3
            self._check(s, meta, out, man_rows, rollup, ops)
            if rec.traced_iteration:
                self._lsh_precision(d)
            if rec.timed:
                self.shard_docs[rec.iteration] = meta["docs"]
                self.bytes_written += dir_bytes(out)[1]
                self.docs_written += len(meta["kept"])
            shutil.rmtree(out, ignore_errors=True)

    def _check(self, s, meta, out, man_rows, rollup, ops) -> None:
        rec = self.ctx.rec
        rows = self.duck.sql(f"""
            SELECT doc_id, text FROM read_parquet('{out}/*/*.parquet')
            ORDER BY doc_id""").fetchall()
        ids = [r[0] for r in rows]
        rec.check(f"shard {s} surviving ids", ids == meta["kept"],
                  f"got {len(ids)} ids, want {len(meta['kept'])}; "
                  f"extra {sorted(set(ids) - set(meta['kept']))[:5]} "
                  f"missing {sorted(set(meta['kept']) - set(ids))[:5]}",
                  op=ops[0])
        text = dict(rows)
        bad = [d for d, t in meta["repaired"].items()
               if text.get(int(d)) != t]
        rec.check(f"shard {s} mojibake repaired", not bad,
                  f"{len(bad)} docs not repaired", op=ops[0])
        rec.check(f"shard {s} manifest", sum(r["n_rows"] for r in man_rows)
                  == len(meta["kept"]), f"{man_rows}", op=ops[1])
        got = {r["source"]: [r["n"], r["bins"], r["tok"]] for r in rollup}
        rec.check(f"shard {s} rollup", got == meta["rollup"],
                  f"got {got} want {meta['rollup']}", op=ops[2])

    def _lsh_precision(self, d) -> None:
        """Verified pairs ÷ LSH candidate pairs, counted outside the
        timed calls."""
        from pyspark.sql import functions as F
        from filters_spark.functions import dedup
        rows = MINHASH["n_hashes"] // MINHASH["n_bands"]
        prepped = dedup.minhash_signatures(d, "doc_id", "text",
                                           n_hashes=MINHASH["n_hashes"])
        prepped = prepped.withColumn("_bands", dedup.minhash_bands(
            F.col("_sig"), MINHASH["n_bands"], rows))
        cands = dedup.lsh_candidate_pairs(prepped, "doc_id", "_bands").count()
        verified = dedup.jaccard_pairs(
            prepped, "doc_id", "_sh",
            pairs=dedup.lsh_candidate_pairs(prepped, "doc_id", "_bands"),
            threshold=MINHASH["threshold"]).count()
        if cands:
            self.precision.append(verified / cands)

    def finish(self) -> None:
        from filters_spark.functions import _cache
        _cache.release_caches()

    # -- end-to-end inputs ----------------------------------------------
    def rows_per_s(self, iters: dict[int, float]) -> float:
        return statistics.median(self.shard_docs[i] / w
                                 for i, w in iters.items()
                                 if i in self.shard_docs)

    def write_bytes_per_row(self) -> float:
        return self.bytes_written / max(1, self.docs_written)

    def layer_metrics(self, calls: list[dict]) -> dict:
        per: dict[int, int] = {}
        build: dict[int, float] = {}
        for c in calls:
            it = c["iteration"]
            if it in self.shard_docs:
                per[it] = per.get(it, 0) + c["tasks"]["in_records"]
        for op in self.ctx.rec.ops:
            if op.kind == "build" and op.name.startswith("functions."):
                build[op.iteration] = build.get(op.iteration, 0.0) + op.wall
        med = statistics.median
        scans = [v / self.shard_docs[i] for i, v in per.items()]
        return {
            "functions.build_s": med(build.values()) if build else 0.0,
            "corpus.input_scans": med(scans) if scans else 0.0,
            "dedup.lsh_precision": med(self.precision)
            if self.precision else 0.0,
        }
