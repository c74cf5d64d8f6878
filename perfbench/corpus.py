"""Workload ``corpus-pipeline``: a training-data funnel and its reference.

A synthetic document corpus (``make_corpus``, from the fixed data seed)
holds English documents, German documents, low-quality fragments,
near-duplicate copies and documents sharing boilerplate sentences.  One
pass of the funnel runs the ``database_spark.pipeline`` stages the way a
corpus build chains them:

    filter    lang_id == "en" and quality_score >= MIN_QUALITY
    clusters  near_dup_clusters: MinHash-LSH pairs, exact-verified, their
              connected components, one representative per cluster kept
    spans     duplicate_spans: exact repeated 8-token spans
    decontam  contaminated: documents sharing a 5-gram with the probe set
    pack      pack_greedy of the clean documents into 512-token bins

The seed picks the decontamination probe set.  Every stage's output is
collected and compared with a pure-Python computation of the same
definitions over the same texts (``Reference``).  One client runs a
warm-up pass, then whole passes until the window has passed.  Reaches
``pipeline`` only, which shares Spark but none of the SPARQL layers.
"""

from __future__ import annotations

import contextlib
import os
import re
import sys
import time

import numpy as np

import harness
import layers
from gen import DATA_SEED

N_DOCS, N_DOCS_SMALL = 1200, 300
MIN_QUALITY = 0.75
SHINGLE = 3  # minhash shingle width (tokens)
JACCARD = 0.5
SPAN_WIDTH = 8
DECONTAM_K = 5
PACK_BUDGET, PACK_SHARDS = 512, 16
STAGES = ("filter", "clusters", "spans", "decontam", "pack")

EN = ["the", "and", "of", "to", "is", "that", "for", "with"]
DE = ["der", "die", "das", "und", "ist", "nicht", "ein", "mit"]
TOKEN = re.compile("[a-z0-9]+")


# ------------------------------------------------------------ generator
def _vocab(rng, n: int) -> list[str]:
    from database_spark.pipeline.text import LANG_MARKERS

    markers = {w for ws in LANG_MARKERS.values() for w in ws}
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out: list[str] = []
    seen = set(markers)
    while len(out) < n:
        w = "".join(rng.choice(letters, int(rng.integers(4, 9))))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _sentences(rng, vocab, stop, n_tokens: int) -> list[str]:
    toks = []
    for _ in range(n_tokens):
        toks.append(stop[int(rng.integers(0, len(stop)))] if rng.random() < 0.3
                    else vocab[int(rng.integers(0, len(vocab)))])
    out, i = [], 0
    while i < len(toks):
        k = int(rng.integers(8, 15))
        s = " ".join(toks[i:i + k])
        out.append(s[0].upper() + s[1:] + ".")
        i += k
    return out


def make_corpus(seed: int, n_docs: int) -> list[str]:
    """``n_docs`` texts; document id = list index."""
    rng = np.random.default_rng([seed, 40])
    vocab = _vocab(rng, 3000)
    boiler = [" ".join(_sentences(rng, vocab, EN, 12)) for _ in range(5)]
    docs: list[str] = []
    while len(docs) < n_docs:
        r = rng.random()
        if r < 0.10:  # German
            docs.append(" ".join(_sentences(rng, vocab, DE, int(rng.integers(60, 140)))))
        elif r < 0.20:  # low quality: short, digits and punctuation
            nums = [str(int(x)) for x in rng.integers(0, 100000, int(rng.integers(3, 8)))]
            docs.append("the " + ", ".join(nums) + "!!")
        else:
            sents = _sentences(rng, vocab, EN, int(rng.integers(60, 160)))
            if rng.random() < 0.12:
                sents.insert(int(rng.integers(0, len(sents) + 1)), boiler[int(rng.integers(0, len(boiler)))])
            docs.append(" ".join(sents))
            if rng.random() < 0.10:  # near-duplicate copies
                for _ in range(int(rng.integers(1, 3))):
                    words = docs[-1].split(" ")
                    for _ in range(int(rng.integers(1, 3))):
                        words[int(rng.integers(0, len(words)))] = vocab[int(rng.integers(0, len(vocab)))]
                    docs.append(" ".join(words))
    return docs[:n_docs]


def probe_set(seed: int, docs: list[str], n: int = 12) -> list[str]:
    """Seed-chosen decontamination probes: half are 12-token excerpts of
    corpus documents, half are fresh text that matches nothing."""
    rng = np.random.default_rng([seed, 41])
    out = []
    for i in range(n):
        if i % 2 == 0:
            toks = docs[int(rng.integers(0, len(docs)))].split(" ")
            at = int(rng.integers(0, max(1, len(toks) - 12)))
            out.append(" ".join(toks[at:at + 12]))
        else:
            out.append(" ".join(f"zz{int(x)}" for x in rng.integers(0, 10**6, 12)))
    return out


# ------------------------------------------------------------ reference
def tokens(text: str) -> list[str]:
    return TOKEN.findall(text.lower())


def _hits(text: str, words) -> int:
    return len(re.findall(r"\b(" + "|".join(words) + r")\b", text.lower()))


def lang_id(text: str) -> str:
    from database_spark.pipeline.text import LANG_MARKERS

    best, best_n = "und", 0
    for lang, ws in LANG_MARKERS.items():  # ties keep the earlier language
        n = _hits(text, ws)
        if n > best_n:
            best, best_n = lang, n
    return best


def quality_score(text: str) -> float:
    n_chars = len(text)
    n_tokens = len(tokens(text))
    alpha = len(re.sub("[^A-Za-z]", "", text))
    punct = len(re.sub("[^.,;:!?]", "", text))
    stop = _hits(text, EN)
    mean_wl = alpha / n_tokens if n_tokens else 0.0
    s_len = 1.0 if 200 <= n_chars <= 20000 else 0.5 if n_chars >= 50 else 0.0
    s_alpha = alpha / n_chars if n_chars else 0.0
    s_punct = 1.0 - min(1.0, punct * 10.0 / n_chars) if n_chars else 0.0
    s_wl = 1.0 if 3.0 <= mean_wl <= 10.0 else 0.5
    s_stop = min(1.0, stop * 4.0 / n_tokens) if n_tokens else 0.0
    return round((s_len + s_alpha + s_punct + s_wl + s_stop) / 5.0, 6)


def _grams(toks, k: int) -> list[str]:
    return [" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)]


class Reference:
    """Every stage's expected output, computed in Python."""

    def __init__(self, docs: list[str], probes: list[str]):
        self.survivors = [
            i for i, t in enumerate(docs) if lang_id(t) == "en" and quality_score(t) >= MIN_QUALITY
        ]
        sh = {i: set(_grams(tokens(docs[i]), SHINGLE)) for i in self.survivors}
        index: dict = {}
        for i in self.survivors:
            for g in sh[i]:
                index.setdefault(g, []).append(i)
        cand = {(a, b) for ids in index.values() for a in ids for b in ids if a < b}
        self.pairs = {
            (a, b) for a, b in cand if len(sh[a] & sh[b]) / len(sh[a] | sh[b]) >= JACCARD
        }
        # clusters: min-id components of the pair graph, representative
        # = longest text, ties to the smallest id
        parent = {i: i for i in self.survivors}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in self.pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        self.clusters = {i: find(i) for i in self.survivors}
        best: dict = {}
        for i in self.survivors:
            c = self.clusters[i]
            if c not in best or (len(docs[i]), -i) > (len(docs[best[c]]), -best[c]):
                best[c] = i
        self.kept = sorted(best.values())
        # exact repeated spans over the kept documents
        toks = {i: tokens(docs[i]) for i in self.kept}
        count: dict = {}
        for i in self.kept:
            for g in _grams(toks[i], SPAN_WIDTH):
                count[g] = count.get(g, 0) + 1
        self.spans = set()
        for i in self.kept:
            hot = [p for p, g in enumerate(_grams(toks[i], SPAN_WIDTH)) if count[g] >= 2]
            start = last = None
            for p in hot:
                if last is not None and p > last + SPAN_WIDTH:
                    self.spans.add((i, start, last + SPAN_WIDTH))
                    start = None
                if start is None:
                    start = p
                last = p
            if start is not None:
                self.spans.add((i, start, last + SPAN_WIDTH))
        # decontamination against the probe set
        probe_grams = [set(_grams(tokens(p), DECONTAM_K)) for p in probes]
        self.contaminated = {}
        for i in self.kept:
            g = set(_grams(toks[i], DECONTAM_K))
            n = sum(1 for pg in probe_grams if g & pg)
            if n:
                self.contaminated[i] = n
        # greedy packing of the clean documents
        self.packed = set()
        cum: dict = {}
        for i in self.kept:
            if i in self.contaminated:
                continue
            n_tok = len(toks[i])
            shard = i % PACK_SHARDS
            before = cum.get(shard, 0)
            self.packed.add((i, shard, before // PACK_BUDGET, n_tok))
            cum[shard] = before + n_tok


# ---------------------------------------------------------------- funnel
def write_docs(texts: list[str], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"doc_id": pa.array(range(len(texts)), pa.int64()), "text": pa.array(texts)}), path
    )


def run_funnel(spark, docs_path: str, probes: list[str], stage) -> dict:
    """One pass of the funnel.  ``stage(name)`` is a context manager
    opened around each stage (it times the stage and tags its Spark
    jobs).  Returns each stage's collected output."""
    from pyspark.sql import functions as F

    from database_spark.pipeline import decontaminate, dedup, pack, text

    out: dict = {}
    docs = spark.read.parquet(docs_path)
    with stage("filter"):
        t = F.col("text")
        kept = docs.where((text.lang_id(t) == "en") & (text.quality_score(t) >= MIN_QUALITY))
        kept = kept.localCheckpoint()
        out["survivors"] = sorted(r[0] for r in kept.select("doc_id").collect())
    with stage("clusters"):
        clusters = dedup.near_dup_clusters(
            kept, "doc_id", "text", n=SHINGLE, threshold=JACCARD
        ).localCheckpoint()
        rows = clusters.collect()
        out["clusters"] = {r["id"]: r["cluster"] for r in rows}
        out["kept"] = sorted(r["id"] for r in rows if r["keep"])
        reps = clusters.where("keep").select(F.col("id").alias("doc_id"))
        deduped = kept.join(reps, "doc_id", "left_semi").localCheckpoint()
    with stage("spans"):
        out["spans"] = {
            (r[0], r[1], r[2])
            for r in dedup.duplicate_spans(deduped, "doc_id", "text", width=SPAN_WIDTH).collect()
        }
    with stage("decontam"):
        probe_df = spark.createDataFrame([(i, p) for i, p in enumerate(probes)], "doc_id long, text string")
        hits = decontaminate.contaminated(deduped, probe_df, k=DECONTAM_K)
        out["contaminated"] = {r[0]: r[1] for r in hits.collect()}
    with stage("pack"):
        clean = deduped.join(hits.select("doc_id"), "doc_id", "left_anti")
        out["packed"] = {
            (r[0], r[1], r[3], r[2]) for r in pack.pack_greedy(clean, PACK_BUDGET, PACK_SHARDS).collect()
        }
    return out


def mismatches(got: dict, ref: Reference) -> list[str]:
    """Names of the stage outputs that differ from the reference."""
    bad = []
    for key, want in (
        ("survivors", ref.survivors), ("clusters", ref.clusters), ("kept", ref.kept),
        ("spans", ref.spans), ("contaminated", ref.contaminated), ("packed", ref.packed),
    ):
        if got.get(key) != want:
            bad.append(key)
    return bad


class StageTimer:
    """``stage(name)`` for ``run_funnel``: times each stage and gives
    its Spark jobs a job group of their own."""

    def __init__(self, spark, tag: str, tracer=None):
        self.sc = spark.sparkContext
        self.tag = tag
        self.tracer = tracer
        self.seconds: dict = {}

    def group(self, name: str) -> str:
        return f"perfbench-pipeline-{self.tag}-{name}"

    def __call__(self, name: str):
        @contextlib.contextmanager
        def cm():
            self.sc.setJobGroup(self.group(name), f"pipeline {name}")
            sp = None
            if self.tracer is not None and self.tracer.enabled:
                sp = self.tracer.begin(f"pipeline.{name}", rid=self.tag)
            t = time.perf_counter()
            try:
                yield
            finally:
                self.seconds[name] = time.perf_counter() - t
                if sp is not None:
                    sp.info["group"] = self.group(name)
                    self.tracer.finish(sp)
                self.sc.setLocalProperty("spark.jobGroup.id", None)

        return cm()


def pipeline_layers(jobs_by_group: dict, timers) -> dict:
    """Per-pass means of the stages' seconds and shuffle bytes
    (``timers``: one ``StageTimer`` per pass)."""
    n = max(1, len(timers))
    out = {f"pipeline.{st}_s": sum(t.seconds.get(st, 0.0) for t in timers) / n for st in STAGES}
    out["pipeline.shuffle_bytes"] = sum(
        j.shuffle_bytes for t in timers for st in STAGES for j in jobs_by_group.get(t.group(st), [])
    ) / n
    return out


def run(ctx, process_age) -> dict:
    docs = make_corpus(DATA_SEED, N_DOCS_SMALL if ctx.small else N_DOCS)
    probes = probe_set(ctx.seed, docs)
    path = os.path.join(ctx.work, "docs.parquet")
    write_docs(docs, path)
    run_funnel(ctx.spark, path, probes, StageTimer(ctx.spark, "warm"))
    setup_s = harness.setup_seconds(process_age)

    passes: list = []  # (StageTimer, output, seconds)

    def one_pass(i: int) -> None:
        timer = StageTimer(ctx.spark, f"f{i}", ctx.tracer)
        t = time.perf_counter()
        out = run_funnel(ctx.spark, path, probes, timer)
        passes.append((timer, out, time.perf_counter() - t))

    layer_vals = att = None
    with harness.Window(ctx) as win:
        deadline = win.t0 + (0 if ctx.small else ctx.seconds)
        i = 0
        while i == 0 or time.perf_counter() < deadline:
            one_pass(i)
            i += 1
    jobs = {}
    for j in win.jobs():
        jobs.setdefault(j.group, []).append(j)
    stage_vals = pipeline_layers(jobs, [p[0] for p in passes])
    if ctx.trace:
        busy = sum(p[2] for p in passes)
        layer_vals, att = layers.traced(ctx, win, len(passes), busy, lambda _att: {})
    ref = Reference(docs, probes)
    failed = 0
    for _t, out, _s in passes:
        bad = mismatches(out, ref)
        if bad:
            failed += 1
            print(f"perfbench: funnel outputs differ from the reference: {bad}", file=sys.stderr)
    seconds = sum(p[2] for p in passes)
    docs_per_s = len(docs) * len(passes) / max(1e-9, seconds)
    return {
        "attempted": len(passes),
        "failed": failed,
        "metrics": harness.e2e_metrics(setup_s, win.rss_mb, len(passes) / max(1e-9, seconds)),
        "layers": layer_vals,
        "trace": att,
        "meta": {
            "workload_metrics": {"pipeline_docs_per_s": docs_per_s, "read_qps": len(passes) / max(1e-9, seconds)},
            "pipeline_layers": stage_vals,
            "passes": len(passes),
            "documents": len(docs),
            "survivors": len(ref.survivors),
            "kept": len(ref.kept),
            "window_s": win.t1 - win.t0,
            "gc_s": win.gc_s,
        },
    }
