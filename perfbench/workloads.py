"""The three seeded workloads: input generation, the timed call into the
package's public entry points, output checks, and per-layer metrics.

Each workload turns ``--seed`` into a parquet input during set-up; the
package only ever reads that parquet. A run goes from the input scan to the
committed result (labels written, or the final collect returned).
"""

from __future__ import annotations

import contextlib
import hashlib
import math
import os
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from chinese_corpus_cleaning_spark.config import DEFAULT
from chinese_corpus_cleaning_spark.functions import langid
from chinese_corpus_cleaning_spark.functions.cleaning import (
    extract_html_text,
    remove_long_repeated_substrings_ex,
)
from chinese_corpus_cleaning_spark.functions.dfa import scan_positions
from chinese_corpus_cleaning_spark.functions.feature import evaluate_features
from chinese_corpus_cleaning_spark.functions.textstats import (
    check_flags,
    compute_stats,
    rule_score,
)
from chinese_corpus_cleaning_spark.operators import extract as extract_mod
from chinese_corpus_cleaning_spark.operators import similarity as similarity_mod
from chinese_corpus_cleaning_spark.plans import curation as curation_mod
from chinese_corpus_cleaning_spark.plans import pipeline as pipeline_mod
from chinese_corpus_cleaning_spark.sources import gen
from chinese_corpus_cleaning_spark.sources.wordlists import (
    ALL_SENSITIVE_WORDS,
    full_trie,
    load_words,
)

# Every per-layer metric a traced run reports, with its unit. A layer's
# time is reported as its share of the traced run (``*_share``: self time
# over the traced total; ``python_share``: Python-worker time over all task
# time; ``spark.gc_share``: GC time over task time), so that a layer a
# workload never calls reads 0 as a ratio, not as a time; the trace file
# keeps every span's seconds. A workload that never
# calls a layer reports that layer's metrics as 0.
LAYER_METRICS = {
    "extract.self_share": "ratio",
    "extract.python_share": "ratio",
    "extract.python_bytes": "bytes",
    "extract.zh_frac": "ratio",
    "quality.self_share": "ratio",
    "quality.python_share": "ratio",
    "quality.python_bytes": "bytes",
    "quality.keep_frac": "ratio",
    "quality.error_frac": "ratio",
    "dedup.self_share": "ratio",
    "dedup.jobs": "count",
    "dedup.stages": "count",
    "dedup.sched_floor_share": "ratio",
    "dedup.shuffle_bytes": "bytes",
    "dedup.spill_bytes": "bytes",
    "dedup.dup_frac": "ratio",
    "dedup.found_frac": "ratio",
    "textanalysis.self_share": "ratio",
    "textanalysis.shuffle_bytes": "bytes",
    "textanalysis.lines_removed": "count",
    "sampling.self_share": "ratio",
    "sampling.jobs": "count",
    "similarity.kmeans_share": "ratio",
    "similarity.kmeans_jobs": "count",
    "similarity.semdedup_share": "ratio",
    "similarity.pairs": "count",
    "similarity.keep_frac": "ratio",
    "pipeline.self_share": "ratio",
    "pipeline.jobs": "count",
    "pipeline.output_bytes": "bytes",
    "curation.self_share": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.gc_share": "ratio",
    "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.sched_floor_s": "s",
    "trace.total_s": "s",
    "trace.overhead_s": "s",
}


class CheckFailed(Exception):
    """An output differs from what the workload's checks expect."""


def require(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def digest(rows) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(tuple(r)).encode())
    return h.hexdigest()[:16]


def write_parts(table: pa.Table, path: str, parts: int) -> None:
    """``parts`` equal parquet files, so the scan gives every core a split."""
    os.makedirs(path, exist_ok=True)
    step = math.ceil(table.num_rows / parts)
    for i in range(parts):
        pq.write_table(
            table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet")
        )


def _mean(xs) -> float:
    return float(sum(xs)) / max(1, len(xs))


@dataclass
class Inputs:
    path: str
    rows: int
    props: dict
    truth: dict = field(default_factory=dict)


@dataclass
class Result:
    """What a run returns: the rows or stats that make up its output, and
    the digest that pins them."""

    value: object
    digest: str
    counts: dict = field(default_factory=dict)


class Workload:
    name = ""
    sizes: dict = {}  # --size -> input size (rows, or base pages)
    # per-layer metrics a traced run must read above 0: each layer this
    # workload calls did its work inside its own span
    NONZERO: tuple = ()

    def __init__(self, size: str) -> None:
        self.n = self.sizes[size]

    def generate(self, seed: int, path: str, parts: int) -> Inputs:
        """Write the seeded input as ``parts`` parquet files under ``path``."""
        raise NotImplementedError

    def run(self, eng, inp: Inputs, out: str, span=None) -> Result:
        """The timed call, from the input scan to the committed result.
        ``span(name)``, given in traced runs, opens a span."""
        raise NotImplementedError

    def check(self, eng, inp: Inputs, res: Result, out: str) -> dict:
        """Independent checks of one run's output. Returns the measured
        output properties."""
        raise NotImplementedError

    def output_digest(self, res: Result, out: str) -> str:
        """Digest of everything a run committed, pinned per seed and
        compared after every run, outside its timed window."""
        return res.digest

    def trace_targets(self) -> list:
        """(module, attribute, span name, checkpoint) per traced layer."""
        raise NotImplementedError

    def layer_metrics(self, tracer, inp: Inputs, res: Result) -> dict:
        """This workload's entries of LAYER_METRICS from a traced run."""
        raise NotImplementedError


# --------------------------------------------------------------- crawl_filter


def oracle_quality(text: str, trie) -> tuple:
    """(keep, quality_score, scrubbed_text) from the pure-Python
    ``functions/`` path with the default config, evaluated on the driver."""
    cfg = DEFAULT
    try:
        st = compute_stats(text)
        flags = check_flags(st, cfg.rule)
        r = rule_score(text, st, flags, cfg.rule)
        scrubbed, positions = scan_positions(text, trie)
        feat = evaluate_features(text, trie, cfg.feature, matches=positions)
    except ZeroDivisionError:
        # an empty text is an error row: no score, not kept
        return (False, None, None)
    score = (r * cfg.weight_rule + feat.score * cfg.weight_feature) / (
        cfg.weight_rule + cfg.weight_feature
    )
    return (score >= cfg.quality_threshold, score, scrubbed)


def oracle_extract(html: bytes) -> str | None:
    """Extracted text of a page, or None when language ID rejects it."""
    text = extract_html_text(html)
    if text is None:
        return None
    text, _ = remove_long_repeated_substrings_ex(text)
    if text is None or not langid.identify(text)[2]:
        return None
    return text


class CrawlFilter(Workload):
    name = "crawl_filter"
    sizes = {"full": 2000, "tiny": 400}
    PARITY_SAMPLE = 200
    NONZERO = (
        "extract.self_share", "extract.python_share", "extract.python_bytes",
        "extract.zh_frac", "quality.self_share", "quality.python_share",
        "quality.python_bytes", "quality.keep_frac", "pipeline.self_share",
        "pipeline.jobs", "pipeline.output_bytes",
    )

    def generate(self, seed, path, parts):
        start = seed * 10_000_000
        docs = [gen.make_doc(start + i) for i in range(self.n)]
        table = pa.table(
            {
                "url": [d["url"] for d in docs],
                "warc_ts": pa.array([d["warc_ts"] for d in docs], pa.timestamp("us")),
                "html": pa.array([d["html"] for d in docs], pa.binary()),
                "lang": [d["lang"] for d in docs],
                "doc_class": [d["doc_class"] for d in docs],
            }
        )
        write_parts(table, path, parts)
        # near_dup pages of one family share their body: all but one of
        # each family's pages are duplicates by construction
        families: dict[int, int] = {}
        for i, d in enumerate(docs):
            if d["doc_class"] == "near_dup":
                fam = (start + i) // 8
                families[fam] = families.get(fam, 0) + 1
        dups = sum(c - 1 for c in families.values())
        pick = random.Random(f"parity:{seed}").sample(
            range(self.n), min(self.PARITY_SAMPLE, self.n)
        )
        return Inputs(
            path,
            self.n,
            {
                "rows": self.n,
                "mean_html_bytes": _mean([len(d["html"]) for d in docs]),
                "mean_text_bytes": _mean([len(d["text"].encode()) for d in docs]),
                "dup_share": dups / self.n,
            },
            {"sample": [(docs[i]["url"], docs[i]["html"]) for i in pick]},
        )

    def run(self, eng, inp, out, span=None):
        docs = eng.spark.read.parquet(inp.path)
        pages = extract_mod.with_extraction(docs).where(F.col("is_zh"))
        stats = pipeline_mod.run(
            eng.spark,
            pages.select("url", F.col("extracted_text").alias("text")),
            out,
        )
        # the committed output is the labels: see output_digest
        return Result(stats, "", dict(stats))

    @staticmethod
    def labels(out):
        """The committed labels, read on the driver with pyarrow (no Spark
        job), sorted by url."""
        return (
            pq.read_table(
                os.path.join(out, "labels"),
                columns=["url", "keep", "quality_score", "scrubbed_text", "error"],
            )
            .to_pandas()
            .sort_values("url")
        )

    def output_digest(self, res, out):
        # the run() stats are compared as Result.counts
        return digest(self.labels(out).itertuples(index=False, name=None))

    def check(self, eng, inp, res, out):
        stats = res.value
        labels = self.labels(out)
        n_err = int(labels["error"].notna().sum())
        n_keep = int(labels["keep"].sum())
        require(stats["total"] == len(labels), f"total {stats} vs {len(labels)} labels")
        require(stats["high_quality"] == n_keep, f"kept {stats} vs {n_keep}")
        require(stats["error"] == n_err, f"errors {stats} vs {n_err}")
        require(
            stats["low_quality"] == len(labels) - n_keep - n_err,
            f"low_quality {stats}",
        )
        require(labels["url"].is_unique, "duplicate urls in labels")
        by_url = labels.set_index("url")
        trie = full_trie()
        for url, html in inp.truth["sample"]:
            text = oracle_extract(html)
            if text is None:
                require(url not in by_url.index, f"{url} kept by langid")
                continue
            require(url in by_url.index, f"{url} missing from labels")
            row = by_url.loc[url]
            keep, score, scrubbed = oracle_quality(text, trie)
            got_score = None if row["quality_score"] != row["quality_score"] else row["quality_score"]
            require(
                (bool(row["keep"]), got_score, row["scrubbed_text"])
                == (keep, score, scrubbed),
                f"{url}: spark {(row['keep'], got_score)} != python {(keep, score)}",
            )
        return {
            "zh_share": stats["total"] / inp.rows,
            "kept_share": stats["high_quality"] / inp.rows,
            "doc_error_frac": stats["error"] / max(1, stats["total"]),
        }

    def trace_targets(self):
        return [
            (extract_mod, "with_extraction", "extract", True),
            (pipeline_mod, "run", "pipeline", False),
            (pipeline_mod, "with_quality", "quality", True),
        ]

    def layer_metrics(self, tracer, inp, res):
        stats = res.value
        ex = tracer.named("extract")
        q = tracer.named("quality")
        p = tracer.named("pipeline")
        return {
            "extract.self_share": tracer.self_share(ex),
            "extract.python_share": tracer.python_share(ex),
            "extract.python_bytes": tracer.python_bytes(ex),
            "extract.zh_frac": stats["total"] / inp.rows,
            **quality_metrics(
                tracer, q, stats["high_quality"] / max(1, stats["total"]),
                stats["error"] / max(1, stats["total"]),
            ),
            "pipeline.self_share": tracer.self_share(p),
            "pipeline.jobs": tracer.total(p, "jobs"),
            "pipeline.output_bytes": tracer.total(p, "output_bytes"),
        }


def quality_metrics(tracer, spans, keep_frac, error_frac) -> dict:
    return {
        "quality.self_share": tracer.self_share(spans),
        "quality.python_share": tracer.python_share(spans),
        "quality.python_bytes": tracer.python_bytes(spans),
        "quality.keep_frac": keep_frac,
        "quality.error_frac": error_frac,
    }


# ------------------------------------------------------------- recrawl_curate


def _prose_vocab() -> list[str]:
    """sources/gen's 2-char CJK words, minus every word containing a
    single-character lexicon entry, so the prose passes quality."""
    single = {w for w in load_words(ALL_SENSITIVE_WORDS) if len(w) == 1}
    return [w for w in gen._VOCAB if not set(w) & single]


class RecrawlCurate(Workload):
    name = "recrawl_curate"
    sizes = {"full": 240, "tiny": 120}  # rows (captures)
    LINES = 24
    K_PER_HOST = 8
    NONZERO = (
        "quality.self_share", "quality.python_share", "quality.python_bytes",
        "quality.keep_frac", "dedup.self_share", "dedup.jobs", "dedup.stages",
        "dedup.shuffle_bytes", "dedup.dup_frac", "dedup.found_frac",
        "textanalysis.self_share", "textanalysis.shuffle_bytes",
        "textanalysis.lines_removed", "sampling.self_share", "sampling.jobs",
        "curation.self_share",
    )

    def generate(self, seed, path, parts):
        vocab = _prose_vocab()

        def sentence(rnd):
            return "".join(rnd.choice(vocab) for _ in range(rnd.randint(8, 18))) + "。"

        nav = "".join(vocab[i] for i in (3, 141, 592, 977, 1406, 2023)) + "。"
        # The shape of the corpus is the same for every seed, so that the
        # seed changes the text and not the amount of work: pages are
        # captured 1, 2, ..., 7 times in turn (the last page cut to fit),
        # a third of the pages are on the hot host and the others take the
        # hosts in turn. The seed deals the capture counts and the hot host
        # to pages, writes the text, and orders the rows.
        counts = []
        while sum(counts) < self.n:
            counts.append(min(len(counts) % 7 + 1, self.n - sum(counts)))
        deal = random.Random(f"recrawl-deal:{seed}")
        deal.shuffle(counts)
        hot = set(deal.sample(range(len(counts)), len(counts) // 3))
        cold = [b for b in range(len(counts)) if b not in hot]
        host_of = {b: gen.HOSTS[i % len(gen.HOSTS)] for i, b in enumerate(cold)}
        ids, urls, hosts, texts, base_of = [], [], [], [], []
        bases = len(counts)
        for b, n_captures in enumerate(counts):
            rnd = random.Random(f"recrawl:{seed}:{b}")
            body = "\n".join(sentence(rnd) for _ in range(self.LINES))
            host = host_of.get(b, gen.HOT_HOST)
            for c in range(n_captures):
                crnd = random.Random(f"recrawl:{seed}:{b}:{c}")
                ids.append(len(ids))
                urls.append(f"https://{host}/page/{b}?capture={c}")
                hosts.append(host)
                texts.append(f"{nav}\n{body}\n{sentence(crnd)}")
                base_of.append(b)
        # captures of one page are spread over the corpus, as a re-crawl
        # interleaves them; ids stay in capture order within a page
        order = list(range(len(ids)))
        random.Random(f"recrawl-order:{seed}").shuffle(order)
        table = pa.table(
            {
                "doc_id": pa.array([ids[i] for i in order], pa.int64()),
                "url": [urls[i] for i in order],
                "host": [hosts[i] for i in order],
                "text": [texts[i] for i in order],
            }
        )
        write_parts(table, path, parts)
        return Inputs(
            path,
            self.n,
            {
                "rows": self.n,
                "base_pages": bases,
                "mean_text_bytes": _mean([len(t.encode()) for t in texts]),
                "dup_share": (self.n - bases) / self.n,
                "hot_host_share": hosts.count(gen.HOT_HOST) / self.n,
            },
            {"base_of": base_of, "nav": nav, "hosts": set(hosts)},
        )

    def run(self, eng, inp, out, span=None):
        span = span or (lambda name: contextlib.nullcontext())
        docs = eng.spark.read.parquet(inp.path)
        with span("curation"):
            curated, obs = curation_mod.curation_run(
                docs,
                eng.trie_bc,
                strata=("host",),
                k_per_stratum=self.K_PER_HOST,
                id_col="doc_id",
            )
            rows = curated.select(
                "doc_id", "host", "sample_rank", "n_lines_removed", "clean_text"
            ).collect()
        rows = sorted(tuple(r) for r in rows)
        counts = {k: int(o.get["n"]) for k, o in obs.items()}
        return Result(rows, digest([sorted(counts.items()), *rows]), counts)

    def check(self, eng, inp, res, out):
        c = res.counts
        rows = res.value
        bases = inp.props["base_pages"]
        require(c["input"] == inp.rows, f"input count {c['input']} != {inp.rows}")
        require(c["unique"] <= c["kept"] <= c["input"], f"counts {c}")
        # every dropped page can remove at most one base page's last capture
        require(
            bases - (c["input"] - c["kept"]) <= c["unique"],
            f"{c['unique']} unique pages < {bases} base pages",
        )
        require(c["sampled"] == len(rows), f"sampled {c['sampled']} != {len(rows)}")
        ids = [r[0] for r in rows]
        require(len(set(ids)) == len(ids), "duplicate ids in the sample")
        per_host: dict = {}
        for doc_id, host, rank, removed, text in rows:
            per_host.setdefault(host, []).append(rank)
            require(host in inp.truth["hosts"], f"unknown host {host}")
            require(removed >= 1 and inp.truth["nav"] not in text, f"nav kept in {doc_id}")
        for host, ranks in per_host.items():
            require(
                sorted(ranks) == list(range(1, len(ranks) + 1))
                and len(ranks) <= self.K_PER_HOST,
                f"sample ranks of {host}: {sorted(ranks)}",
            )
        # MinHash/LSH dedup is approximate: a pair of captures can survive
        # it (traced runs report the recall as dedup.found_frac), so a
        # repeated page in the sample is reported, not failed
        sampled_bases = [inp.truth["base_of"][i] for i in ids]
        return {
            "kept_share": c["kept"] / c["input"],
            "unique_share": c["unique"] / c["input"],
            "sample_repeated_pages": len(sampled_bases) - len(set(sampled_bases)),
        }

    def trace_targets(self):
        return [
            (curation_mod, "with_quality", "quality", True),
            (curation_mod, "with_pii", "quality", True),
            (curation_mod, "dedup_representatives", "dedup", True),
            (curation_mod, "remove_boilerplate", "textanalysis", True),
            (curation_mod, "stratified_sample", "sampling", True),
        ]

    def layer_metrics(self, tracer, inp, res):
        c = res.counts
        q = tracer.named("quality")
        d = tracer.named("dedup")
        t = tracer.named("textanalysis")
        s = tracer.named("sampling")
        # the layer outputs were checkpointed by the trace; count over them
        # after the traced total is closed
        scored, labels, cleaned = (
            tracer.outputs["quality"][0],
            tracer.outputs["dedup"][0],
            tracer.outputs["textanalysis"][0],
        )
        n_err = scored.where(F.col("error").isNotNull()).count()
        lab = labels.select("id", "is_duplicate").collect()
        # duplicates by construction: every capture dedup saw except the
        # lowest id of its page
        first: dict = {}
        for r in lab:
            b = inp.truth["base_of"][r["id"]]
            first[b] = min(first.get(b, r["id"]), r["id"])
        dups = {r["id"] for r in lab} - set(first.values())
        flagged = {r["id"] for r in lab if r["is_duplicate"]}
        lines_removed = cleaned.agg(F.sum("n_lines_removed")).collect()[0][0]
        dedup_wall = sum(x.dur for x in d)
        return {
            **quality_metrics(
                tracer, q, c["kept"] / c["input"], n_err / c["input"]
            ),
            "dedup.self_share": tracer.self_share(d),
            "dedup.jobs": tracer.total(d, "jobs"),
            "dedup.stages": tracer.total(d, "stages"),
            "dedup.sched_floor_share": tracer.sched_floor_s(dedup_wall, d)
            / max(1e-9, dedup_wall),
            "dedup.shuffle_bytes": tracer.total(d, "shuffle_bytes"),
            "dedup.spill_bytes": tracer.total(d, "spill_bytes"),
            "dedup.dup_frac": len(flagged) / max(1, len(lab)),
            "dedup.found_frac": len(flagged & dups) / max(1, len(dups)),
            "textanalysis.self_share": tracer.self_share(t),
            "textanalysis.shuffle_bytes": tracer.total(t, "shuffle_bytes"),
            "textanalysis.lines_removed": int(lines_removed or 0),
            "sampling.self_share": tracer.self_share(s),
            "sampling.jobs": tracer.total(s, "jobs"),
            "curation.self_share": tracer.self_share(tracer.named("curation")),
        }


# ------------------------------------------------------------- embed_semdedup


class EmbedSemdedup(Workload):
    name = "embed_semdedup"
    sizes = {"full": 1200, "tiny": 320}  # multiples of K
    DIM = 64
    K = 16
    TAU = 0.95
    PLANTED = 0.15  # share of vectors that are near copies of another
    TOL = 1e-4  # |cos| agreement between Spark and the numpy recomputation
    NONZERO = (
        "similarity.kmeans_share", "similarity.kmeans_jobs",
        "similarity.semdedup_share", "similarity.pairs", "similarity.keep_frac",
    )

    def generate(self, seed, path, parts):
        # K equal, well separated clusters, laid out over the ids in turn
        # (vector i lies in cluster i mod K), so that k-means, which seeds
        # on the K lowest ids, finds the same K cells of n/K vectors for
        # every seed: the seed moves the vectors, not the pair work. In
        # each cluster a PLANTED share are near copies of earlier members.
        rng = np.random.default_rng(seed)
        per = self.n // self.K
        assert per * self.K == self.n, "the size must be a multiple of K"
        n_dup = int(per * self.PLANTED)
        centers = rng.normal(size=(self.K, self.DIM))
        vecs = np.empty((per, self.K, self.DIM))
        vecs[: per - n_dup] = centers + 0.6 * rng.normal(
            size=(per - n_dup, self.K, self.DIM)
        )
        for j in range(per - n_dup, per):
            src = vecs[rng.integers(0, j, self.K), np.arange(self.K)]
            vecs[j] = src + 0.01 * rng.normal(size=(self.K, self.DIM))
        vecs = vecs.reshape(per * self.K, self.DIM).astype(np.float32)
        table = pa.table(
            {
                "vec_id": pa.array(np.arange(self.n), pa.int64()),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            }
        )
        write_parts(table, path, parts)
        return Inputs(
            path,
            self.n,
            {"rows": self.n, "dim": self.DIM, "dup_share": n_dup / per},
            {"vecs": vecs},
        )

    def run(self, eng, inp, out, span=None):
        vecs = eng.spark.read.parquet(inp.path)
        cents = similarity_mod.kmeans_fit(vecs, k=self.K)
        rows = similarity_mod.semdedup(
            vecs, tau=self.TAU, centroids=cents
        ).collect()
        rows = sorted(
            (r["vec_id"], r["cell"], r["max_prior_cos"], r["semdedup_keep"])
            for r in rows
        )
        return Result(rows, digest(rows))

    def check(self, eng, inp, res, out):
        rows = res.value
        require([r[0] for r in rows] == list(range(inp.rows)), "ids lost or repeated")
        x = inp.truth["vecs"].astype(np.float64)
        x /= np.linalg.norm(x, axis=1, keepdims=True)
        cells: dict = {}
        for vid, cell, cos, keep in rows:
            cells.setdefault(cell, []).append((vid, cos, keep))
        for members in cells.values():
            ids = np.array([m[0] for m in members])  # ascending: rows are sorted
            g = x[ids] @ x[ids].T
            for j, (vid, cos, keep) in enumerate(members):
                want = None if j == 0 else float(g[j, :j].max())
                if want is None or cos is None:
                    require(want is None and cos is None, f"{vid}: {cos} vs {want}")
                else:
                    require(abs(cos - want) <= self.TOL, f"{vid}: {cos} vs {want}")
                require(keep == (cos is None or cos < self.TAU), f"{vid} keep")
                if want is not None and abs(want - self.TAU) > self.TOL:
                    require(keep == (want < self.TAU), f"{vid} keep vs numpy")
        sizes = [len(m) for m in cells.values()]
        return {
            "keep_share": sum(r[3] for r in rows) / len(rows),
            "cells": len(sizes),
            "vectors_per_cell_mean": _mean(sizes),
            "vectors_per_cell_max": max(sizes),
        }

    def trace_targets(self):
        return [
            (similarity_mod, "kmeans_fit", "kmeans", True),
            (similarity_mod, "semdedup", "semdedup", True),
        ]

    def layer_metrics(self, tracer, inp, res):
        k = tracer.named("kmeans")
        s = tracer.named("semdedup")
        sizes: dict = {}
        for _vid, cell, _cos, _keep in res.value:
            sizes[cell] = sizes.get(cell, 0) + 1
        return {
            "similarity.kmeans_share": tracer.self_share(k),
            "similarity.kmeans_jobs": tracer.total(k, "jobs"),
            "similarity.semdedup_share": tracer.self_share(s),
            "similarity.pairs": sum(n * (n - 1) // 2 for n in sizes.values()),
            "similarity.keep_frac": sum(r[3] for r in res.value) / len(res.value),
        }


WORKLOADS = {w.name: w for w in (CrawlFilter, RecrawlCurate, EmbedSemdedup)}
