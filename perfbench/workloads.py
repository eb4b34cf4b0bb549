"""The three workloads: seeded inputs, oracle digests and the timed job.

Every input is a pure function of (workload, seed, size) and is written
once under the cache directory together with the ``gaia_ref`` oracle's
digest of the expected output, so no timed region ever generates data
or runs the oracle.  A job returns a thunk that fetches its output rows
after the clock has stopped; the rows' digest is compared with the
oracle's.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import random
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq

from gaia_ref import oracle
from gaia_ref.extract import norm_surface
from gaia_ref.gazetteer import KB_ENTITIES, alias_rows, kb_rows
from gaia_ref.minhashing import blocking_keys
from gaia_spark.catalog import Catalog
from gaia_spark.operators import canonicalize, linking
from gaia_spark.plans import pipeline
from gaia_synth.corpus import gen_pages, write_corpus

TRIPLE_COLS = ["url", "sent_id", "subj", "pred", "obj",
               "subj_type", "obj_type", "conf"]


def digest(rows) -> str:
    """Order-insensitive digest of a multiset of row tuples."""
    h = hashlib.sha256()
    for line in sorted(repr(tuple(r)) for r in rows):
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


class Workload:
    name = ""
    item = ""          # what the throughput counts: docs or keys
    size = 0           # items per job
    timed_jobs = 1     # timed jobs per repetition, after its warm-up

    def input_dir(self, cache: str, seed: int) -> str:
        return os.path.join(cache, "inputs",
                            f"{self.name}-s{seed}-n{self.size}")

    def prepare(self, cache: str, seed: int) -> tuple[str, dict]:
        """Inputs + oracle digest, generated once per (seed, size)."""
        d = self.input_dir(cache, seed)
        meta_path = os.path.join(d, "oracle.json")
        if not os.path.exists(meta_path):
            tmp = d + f".tmp{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            self.write_inputs(tmp, seed)
            rows = self.oracle_rows(tmp, seed)
            meta = {"digest": digest(rows), "rows": len(rows),
                    **self.input_sizes(tmp)}
            with open(os.path.join(tmp, "oracle.json"), "w") as f:
                json.dump(meta, f)
            shutil.rmtree(d, ignore_errors=True)
            os.replace(tmp, d)
        with open(meta_path) as f:
            return d, json.load(f)

    # subclasses: write_inputs, oracle_rows, input_sizes and
    # run(spark, d, work, final) -> thunk returning output rows;
    # ``final`` wraps the job's last action, if the job has one

    def before_job(self, work: str) -> None:
        """Untimed reset before each job."""

    def resume(self, spark, d: str, work: str) -> float | None:
        return None


class _Kg(Workload):
    item = "docs"
    sents: tuple[int, int]

    def write_inputs(self, d: str, seed: int) -> None:
        write_corpus(d, self.size, seed, self.sents)

    def oracle_rows(self, d: str, seed: int) -> list[tuple]:
        pages = gen_pages(self.size, seed, self.sents)
        return [tuple(t[c] for c in TRIPLE_COLS)
                for t in oracle.run_oracle(pages)["triples"]]

    def input_sizes(self, d: str) -> dict:
        p = os.path.join(d, "pages.parquet")
        return {"docs": self.size, "sents_per_doc": list(self.sents),
                "pages_bytes": os.path.getsize(p)}


class KgFused(_Kg):
    name = "kg_fused"
    sents = (10, 60)
    size = 3000
    # its job time varies most between fresh JVMs (4.1-6.3 s): a second
    # job per process costs 5 s, a third process 20 s
    timed_jobs = 2

    def run(self, spark, d: str, work: str, final=contextlib.nullcontext):
        triples = pipeline.build_triples_df(
            spark,
            spark.read.parquet(os.path.join(d, "pages.parquet")),
            spark.read.parquet(os.path.join(d, "kb_entities.parquet")),
            spark.read.parquet(os.path.join(d, "kb_aliases.parquet")),
        ).select(*TRIPLE_COLS)
        with final():
            rows = triples.collect()
        return lambda: rows


class KgCatalog(_Kg):
    name = "kg_catalog"
    sents = (1, 20)
    size = 240

    @staticmethod
    def catalog_dir(work: str) -> str:
        return os.path.join(work, "catalog")

    def before_job(self, work: str) -> None:
        shutil.rmtree(self.catalog_dir(work), ignore_errors=True)

    def run(self, spark, d: str, work: str, final=contextlib.nullcontext):
        out = self.catalog_dir(work)
        pipeline.run_pipeline(spark, d, out, resume=False)
        return lambda: Catalog(out).read(spark, "triples").select(
            *TRIPLE_COLS).collect()

    def resume(self, spark, d: str, work: str) -> float:
        """Wall time of a resume over the finished catalog; every stage
        must be skipped."""
        t0 = time.perf_counter()
        res = pipeline.run_pipeline(spark, d, self.catalog_dir(work),
                                    resume=True)
        dt = time.perf_counter() - t0
        ran = sorted(k for k, m in res.items() if not m.get("skipped"))
        if ran:
            raise RuntimeError(f"resume re-ran stages {ran}")
        return dt


# -- er_vocab ---------------------------------------------------------------

_CONS = "bdfgklmnprstvz"
_VOWS = "aeiou"
_NIL_COARSE = ("PER", "ORG", "GPE", "FAC", "LOC")
#: planted NIL cluster sizes (a key set of 1 is a singleton surface)
_CLUSTER_SIZES = (1, 1, 2, 2, 3, 4, 5, 6, 8, 12)


def _word(rng: random.Random) -> str:
    return "".join(rng.choice(_CONS) + rng.choice(_VOWS)
                   for _ in range(rng.randint(3, 5)))


def _variants(rng: random.Random, size: int) -> set[str]:
    """A base surface plus near-duplicates that verify against it:
    an added qualifier, a dropped token, a one-letter typo, an article."""
    base = [_word(rng) for _ in range(rng.randint(2, 3))]
    extra = _word(rng)
    out = {" ".join(base)}
    while len(out) < size:
        toks = list(base)
        op = rng.randrange(4)
        if op == 0:
            toks.append(extra)
        elif op == 1 and len(toks) > 2:
            toks.pop(rng.randrange(len(toks)))
        elif op == 2:
            i = rng.randrange(len(toks))
            j = rng.randrange(1, len(toks[i]))
            toks[i] = toks[i][:j] + rng.choice(_VOWS) + toks[i][j + 1:]
        else:
            toks.insert(0, "the")
            if rng.random() < 0.5:
                toks.append(extra)
        out.add(" ".join(toks))
    return {norm_surface(s) for s in out}


def vocab_keys(n: int, seed: int) -> list[tuple[str, str]]:
    """KB aliases (each under its own type, so they link) plus planted
    NIL clusters, topped up to about ``n`` distinct (coarse, link_norm)."""
    coarse_of = {r[0]: r[2] for r in kb_rows()}
    keys = {(coarse_of[eid], alias) for alias, eid in alias_rows()}
    rng = random.Random(seed)
    while len(keys) < n:
        coarse = rng.choice(_NIL_COARSE)
        for s in _variants(rng, rng.choice(_CLUSTER_SIZES)):
            keys.add((coarse, s))
    keys = sorted(keys)
    blocks: dict[tuple[str, int], int] = {}
    for coarse, s in keys:
        for bk in blocking_keys(s):
            blocks[(coarse, bk)] = blocks.get((coarse, bk), 0) + 1
    # above the cap Spark drops the block and the oracle does not
    if max(blocks.values()) > linking.MAX_BLOCK_SIZE:
        raise ValueError("generated vocabulary exceeds MAX_BLOCK_SIZE")
    return keys


class ErVocab(Workload):
    name = "er_vocab"
    item = "keys"
    size = 8000

    def write_inputs(self, d: str, seed: int) -> None:
        os.makedirs(d)
        keys = vocab_keys(self.size, seed)
        pq.write_table(pa.table({
            "coarse": pa.array([k[0] for k in keys], pa.string()),
            "link_norm": pa.array([k[1] for k in keys], pa.string()),
        }), os.path.join(d, "keys.parquet"))
        kb = kb_rows()
        pq.write_table(pa.table({
            "entity_id": [r[0] for r in kb],
            "canonical_name": [r[1] for r in kb],
            "entity_type": [r[2] for r in kb],
            "fine_type": [r[3] for r in kb],
            "popularity": pa.array([r[4] for r in kb], pa.float64()),
        }), os.path.join(d, "kb_entities.parquet"))
        al = alias_rows()
        pq.write_table(pa.table({
            "alias_norm": [r[0] for r in al],
            "entity_id": [r[1] for r in al],
        }), os.path.join(d, "kb_aliases.parquet"))

    def oracle_rows(self, d: str, seed: int) -> list[tuple]:
        t = pq.read_table(os.path.join(d, "keys.parquet")).to_pylist()
        keys = [(r["coarse"], r["link_norm"]) for r in t]
        links = {k: oracle.link_mention(*k) for k in keys}
        nil = oracle.nil_cluster_ids({k for k, e in links.items()
                                      if e is None})
        return [(c, s, links[(c, s)] or nil[(c, s)]) for c, s in keys]

    def input_sizes(self, d: str) -> dict:
        t = pq.read_table(os.path.join(d, "keys.parquet"))
        return {"keys": t.num_rows, "kb_entities": len(kb_rows()),
                "nil_only_entities": sum(1 for e in KB_ENTITIES if not e[0])}

    def run(self, spark, d: str, work: str, final=contextlib.nullcontext):
        keys = spark.read.parquet(os.path.join(d, "keys.parquet"))
        linked = linking.link_mentions(
            keys,
            spark.read.parquet(os.path.join(d, "kb_entities.parquet")),
            spark.read.parquet(os.path.join(d, "kb_aliases.parquet")))
        nil = linking.nil_clusters(linked)
        cmap = canonicalize.canonical_map(
            linking.canonicalize_mentions(linked, nil))
        with final():
            rows = cmap.collect()
        return lambda: rows


WORKLOADS = {w.name: w for w in (KgFused(), KgCatalog(), ErVocab())}
