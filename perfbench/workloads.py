"""The two closed-loop workloads. One client; every operation waits for
its result and is checked against the generator's ground truth.

``index_rw`` — the text inverted index: bulk builds in set-up, then
cycles of ingest, takedown, read-your-writes probes and a query mix.
``curation`` — the LLM-curation operators: IVF builds in set-up, then
cycles of MinHash near-dup detection, IVF probes and BPE training.
"""

from __future__ import annotations

import math
import os
import statistics
import time
import traceback

import numpy as np

from mapreduce_inverted_index_spark.operators import dedup as D
from mapreduce_inverted_index_spark.operators import inverted_index as II
from mapreduce_inverted_index_spark.operators import similarity as S
from mapreduce_inverted_index_spark.operators import store as ST
from mapreduce_inverted_index_spark.operators import term_queries as TQ
from mapreduce_inverted_index_spark.operators import textstats as TS
from mapreduce_inverted_index_spark.sources import load_table

from perfbench import gen

SEED_REPS = 3

# index_rw sizes
N_DOCS = 4000
VOCAB = 20000
ZIPF_S = 1.1
DOC_LEN = 100
BATCH_DOCS = 200
TAKEDOWN = 64
HEAD_TERMS = 100  # content-term ranks counted as "head" in the query stream

# curation sizes
CUR_DOCS = 600
CUR_LEN = 60
DUP_SHARE = 0.10
EDIT_SHARE = 0.05
DUP_THRESHOLD = 0.35
DUP_RECALL_FLOOR = 0.9
N_VECS = 1000
DIM = 64
N_CLUSTERS = 16
N_CELLS = 16
N_PROBE = 4
PROBE_QUERIES = 4
N_QUERY_SETS = 4
IVF_RECALL_FLOOR = 0.8
IVF_ITERS = 2
BPE_MERGES = 4

# JVM thread names (as /proc shows them) of the JIT compiler and the GC
_JIT_GC_THREADS = ("C1 Compiler", "C2 Compiler", "Sweeper thread", "GC Thread", "G1 ")


class CheckFailed(Exception):
    pass


def _check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def _files(path: str) -> "dict[str, int]":
    out = {}
    for d, _, fns in os.walk(path):
        for fn in fns:
            if fn.endswith(".parquet"):
                p = os.path.join(d, fn)
                out[p] = os.path.getsize(p)
    return out


class Bench:
    """State shared by a workload's set-up and loop: the session, the
    tracer, the op log and the per-layer extras."""

    def __init__(self, tmp: str, seed: int):
        self.spark = self.tracer = None  # set once the session is up
        self.tmp, self.seed = tmp, seed
        self.lat: dict[str, list[float]] = {}
        self.trace_cycle = False
        self.measuring = True
        self.attempted = 0
        self.errors: list[str] = []
        self.extra: dict[str, list[float]] = {}
        self.report: dict[str, float] = {}
        self.setup_parts: dict[str, float] = {}
        self.loop_wall = 0.0
        self.cpu: dict[str, list[float]] = {}
        self.loop_cpu = 0.0
        self._jvm_task = self._jvm_clock = None
        self._excluded: dict[str, bool] = {}  # JVM thread id -> JIT or GC thread
        self._excluded_ns: dict[str, int] = {}  # last CPU reading of each such thread
        self._count: dict[str, int] = {}

    def watch_jvm(self, pid: int) -> None:
        self._jvm_task = f"/proc/{pid}/task"
        self._jvm_clock = ((~pid) << 3) | 2  # the kernel's CPU clock of the whole process

    def cpu_s(self) -> float:
        """CPU seconds the engine has used so far: this process plus the
        JVM without its JIT compiler and GC threads. Time the hypervisor
        steals is not counted, so this does not swing with the host's
        load the way wall time does. Compiling and collecting run in
        bursts at points no op controls, so they are left out."""
        if self._jvm_clock is None:
            return 0.0
        for tid in os.listdir(self._jvm_task):
            excluded = self._excluded.get(tid)
            if excluded is None:
                try:
                    with open(f"{self._jvm_task}/{tid}/comm") as f:
                        name = f.read()
                except OSError:
                    continue
                excluded = name.startswith(_JIT_GC_THREADS)
                if not name.startswith("java"):  # a thread may not be named yet
                    self._excluded[tid] = excluded
            if excluded:
                try:
                    with open(f"{self._jvm_task}/{tid}/schedstat") as f:
                        self._excluded_ns[tid] = int(f.read().split()[0])
                except OSError:
                    pass  # exited: its last reading stands
        jvm = time.clock_gettime(self._jvm_clock) - sum(self._excluded_ns.values()) / 1e9
        return time.process_time() + jvm

    def note(self, key: str, value: float) -> None:
        self.extra.setdefault(key, []).append(value)

    def op(self, kind: str, fn, check=None, *, loop: bool = True) -> None:
        """Time one operation; a raised error or a failed check counts
        as a failed op with an infinite latency. Set-up ops are always
        traced in a traced run; loop ops only in cycles marked traced."""
        self.attempted += 1
        n = self._count.get(kind, 0)
        self._count[kind] = n + 1
        self.tracer.active = self.tracer.enabled and (not loop or self.trace_cycle)
        self.tracer.op = f"{kind}-{n}"
        t, c = time.perf_counter(), self.cpu_s()
        wall = cpu = 0.0
        try:
            out = fn()
            dt = wall = time.perf_counter() - t
            dc = cpu = self.cpu_s() - c
            if check is not None:
                check(out)
        except Exception as e:  # noqa: BLE001 - any failure is a failed op
            wall = wall or time.perf_counter() - t
            cpu = cpu or self.cpu_s() - c
            dt = dc = math.inf
            detail = "".join(traceback.format_exception_only(type(e), e)).strip()
            self.errors.append(f"{kind}#{n}: {detail[:300]}")
        finally:
            self.tracer.active = self.tracer.enabled
        if self.measuring or not loop:
            self.lat.setdefault(kind, []).append(dt)
            self.cpu.setdefault(kind, []).append(dc)
        if loop:
            self.loop_wall += wall
            self.loop_cpu += cpu

    def read(self, kind: str) -> None:
        """Count the last ``kind`` op as a read sample."""
        if self.measuring:
            self.lat.setdefault("read", []).append(self.lat[kind][-1])
            self.cpu.setdefault("read", []).append(self.cpu[kind][-1])

    def median(self, kind: str) -> float:
        v = self.lat.get(kind)
        return statistics.median(v) if v else math.nan

    @property
    def failed(self) -> int:
        return len(self.errors)


# --------------------------------------------------------------- index_rw


class IndexRW:
    def __init__(self, b: Bench):
        self.b = b
        seed = b.seed
        self.vocab = gen.Vocabulary(seed, VOCAB, ZIPF_S)
        docs = gen.zipf_docs(self.vocab, gen.rng_for(seed, 2), N_DOCS, DOC_LEN)
        ids = list(range(N_DOCS))
        self.corpus_dir = f"{b.tmp}/inputs/corpus"
        gen.write_documents(self.corpus_dir, ids, docs)
        self.truth = gen.TextTruth(ids, docs)
        self.bm25_tf = dict(self.truth.tf)  # doc tables are written once, from the seed corpus
        self.next_id = N_DOCS
        self.n_head_queries = 0
        self.n_query_terms = 0

    def setup(self) -> None:
        b, t = self.b, self.b.tracer
        spark = b.spark
        for r in range(SEED_REPS):
            path = f"{b.tmp}/store{r}"

            def seed():
                docs = t.call("sources.load_table", load_table, spark, self.corpus_dir, "documents")
                idx = t.call("inverted_index.build_index", II.build_index, docs)
                with t.span("inverted_index.build_index.exec"):
                    t.call("inverted_index.write_index_store", II.write_index_store, idx, path)

            b.op("seed", seed, loop=False)
        self.store = path
        files = _files(path)
        b.note("inverted_index.store_files", len(files))
        b.op("seed_check", lambda: II.read_index_store(spark, path).count(),
             lambda n: _check(n == len(self.truth.postings),
                              f"seeded store holds {n} terms, ground truth {len(self.truth.postings)}"),
             loop=False)

        def doc_tables():
            docs = t.call("sources.load_table", load_table, spark, self.corpus_dir, "documents")
            return t.call("inverted_index.write_doc_tables", II.write_doc_tables,
                          docs, f"{b.tmp}/doctables", prefix="perfbench")

        names = []
        b.op("doc_tables", lambda: names.extend(doc_tables()), loop=False)
        self.tf_table, self.dl_table = names or ("missing", "missing")
        b.setup_parts = {"seed_s": b.median("seed"), "doc_tables_s": b.lat["doc_tables"][-1]}
        b.report["index_docs_per_s"] = N_DOCS / b.median("seed")

    # one cycle: ingest, probe, takedown, probe, two lookups, bm25.
    # Term counts rotate through 1-4 by position, not by draw, so every
    # run has the same query shapes and only the terms depend on the seed.
    def cycle(self, c: int) -> None:
        rng = gen.rng_for(self.b.seed, 100, c)
        self.ingest(rng, c)
        self.takedown(rng)
        self.query(rng, 1 + (2 * c) % 4)
        self.query(rng, 1 + (2 * c + 1) % 4)
        self.bm25(rng, 1 + (c + 1) % 4)

    def _lookup(self, terms: "list[str]", kind: str) -> None:
        b, t, spark = self.b, self.b.tracer, self.b.spark

        def run():
            df = t.call("inverted_index.term_lookup_store", II.term_lookup_store, spark, self.store, terms)
            with t.span("inverted_index.term_lookup_store.exec"):
                return df.collect()

        def check(rows):
            got = {r["term"]: (list(r["postings"]), r["df"]) for r in rows}
            want = {k: (v, len(v)) for k, v in self.truth.lookup(terms).items()}
            _check(got == want, f"{kind} {terms}: postings differ from ground truth")

        b.op(kind, run, check)
        b.read(kind)

    def query(self, rng, n_terms: int) -> None:
        ranks = self.vocab.draw_content_ranks(rng, n_terms)
        self.n_query_terms += len(ranks)
        self.n_head_queries += int(np.sum(ranks < self.vocab.n_head + HEAD_TERMS))
        self._lookup(sorted({self.vocab.words[r] for r in ranks}), "lookup")

    def _mutation(self, kind: str, fn, amp_base: "float | None") -> list:
        b = self.b
        before = _files(self.store)
        out = []

        def run():
            out.append(fn())
            return out[-1]

        b.op(kind, run, lambda aff: _check(isinstance(aff, list) and len(aff) > 0,
                                           f"{kind} reported no affected buckets"))
        after = _files(self.store)
        written = sum(sz for p, sz in after.items() if p not in before)
        buckets = {os.path.dirname(p) for p in after}
        b.note("store.bytes_written", written)
        b.note("store.files_per_bucket", len(after) / max(1, len(buckets)))
        if out:
            b.note("store.buckets_rewritten_share", len(out[-1]) / II.INDEX_STORE_BUCKETS)
        if amp_base:
            b.note("store.write_amp", written / amp_base)
        return out[-1] if out else []

    def ingest(self, rng, c: int) -> None:
        b, t, spark = self.b, self.b.tracer, self.b.spark
        docs = gen.zipf_docs(self.vocab, rng, BATCH_DOCS, DOC_LEN)
        ids = list(range(self.next_id, self.next_id + BATCH_DOCS))
        self.next_id += BATCH_DOCS
        batch_dir = f"{b.tmp}/inputs/batch{c}"
        batch_bytes = gen.write_documents(batch_dir, ids, docs)

        def merge():
            delta_docs = t.call("sources.load_table", load_table, spark, batch_dir, "documents")
            delta = t.call("inverted_index.build_index", II.build_index, delta_docs)
            return t.call("inverted_index.merge_into_index_store", II.merge_into_index_store,
                          spark, self.store, delta)

        self._mutation("merge", merge, batch_bytes)
        for d, toks in zip(ids, docs):
            self.truth.add(d, toks)
        # read-your-writes: terms of the new docs must now list them
        new_terms = sorted({w for toks in docs for w in toks if w not in gen.STOP})
        pick = rng.choice(len(new_terms), size=min(4, len(new_terms)), replace=False)
        self._lookup([new_terms[i] for i in sorted(pick)], "probe")

    def takedown(self, rng) -> None:
        b, t, spark = self.b, self.b.tracer, self.b.spark
        live = np.array(sorted(self.truth.doc_terms))
        dead = sorted(int(d) for d in rng.choice(live, size=TAKEDOWN, replace=False))
        dead_terms = sorted({w for d in dead for w in self.truth.doc_terms[d]})
        self._mutation("delete", lambda: t.call(
            "inverted_index.delete_from_index_store", II.delete_from_index_store,
            spark, self.store, dead), None)
        for d in dead:
            self.truth.remove(d)
        # dead ids must be gone from every posting list that held them
        pick = rng.choice(len(dead_terms), size=min(4, len(dead_terms)), replace=False)
        self._lookup([dead_terms[i] for i in sorted(pick)], "probe")

    def bm25(self, rng, n_terms: int) -> None:
        b, t, spark = self.b, self.b.tracer, self.b.spark
        terms = sorted({self.vocab.words[r] for r in self.vocab.draw_content_ranks(rng, n_terms)})

        def run():
            df = t.call("term_queries.bm25_rank", TQ.bm25_rank, None, terms, k=10,
                        tf=spark.table(self.tf_table), dl=spark.table(self.dl_table))
            with t.span("term_queries.bm25_rank.exec"):
                return df.collect()

        def check(rows):
            got = [(r["doc_id"], r["bm25"]) for r in rows]
            want = gen.bm25_reference(self.bm25_tf, terms, 10)
            _check(len(got) == len(want), f"bm25 {terms}: {len(got)} rows, want {len(want)}")
            ref = {d: s for d, s in gen.bm25_reference(self.bm25_tf, terms, len(self.bm25_tf))}
            for (d, s), (_, ws) in zip(got, want):
                _check(d in ref and abs(ref[d] - s) <= 1e-6, f"bm25 {terms}: doc {d} score {s}")
                _check(abs(s - ws) <= 1e-6, f"bm25 {terms}: score {s} where top-k has {ws}")
            _check(all((a[1], -a[0]) >= (c[1], -c[0]) for a, c in zip(got, got[1:])),
                   f"bm25 {terms}: not ordered by score desc, doc_id asc")

        b.op("bm25", run, check)

    def finish(self) -> None:
        b = self.b
        b.report.update({
            "lookup_ms_p50": 1e3 * b.median("lookup"),
            "probe_ms_p50": 1e3 * b.median("probe"),
            "bm25_ms_p50": 1e3 * b.median("bm25"),
            "merge_ms_p50": 1e3 * b.median("merge"),
            "delete_ms_p50": 1e3 * b.median("delete"),
            "store_write_amp": statistics.median(b.extra.get("store.write_amp", [math.nan])),
            "query_head_term_share": self.n_head_queries / max(1, self.n_query_terms),
        })


# --------------------------------------------------------------- curation


class Curation:
    def __init__(self, b: Bench):
        self.b = b
        seed = b.seed
        vocab = gen.Vocabulary(seed, VOCAB, ZIPF_S)
        ids, self.docs, self.planted = gen.near_dup_corpus(
            vocab, gen.rng_for(seed, 3), CUR_DOCS, CUR_LEN, DUP_SHARE, EDIT_SHARE)
        self.dir = f"{b.tmp}/inputs/curation"
        gen.write_documents(self.dir, ids, self.docs)
        self.vecs, self.queries = gen.clustered_vectors(
            gen.rng_for(seed, 4), N_VECS, N_QUERY_SETS * PROBE_QUERIES, DIM, N_CLUSTERS, 0.35)
        gen.write_embeddings(self.dir, self.vecs)
        self.truth_topk = gen.brute_topk(self.vecs, self.queries, 10)
        self.bpe_truth = gen.bpe_reference(self.docs, BPE_MERGES)
        self.n_probes = 0

    def setup(self) -> None:
        """Three IVF builds (train the codebook, assign, seed the cell
        store), each into a fresh path; the median counts."""
        b, t, spark = self.b, self.b.tracer, self.b.spark
        for r in range(SEED_REPS):
            path = f"{b.tmp}/ivf{r}"
            out = []

            def build():
                emb = t.call("sources.load_table", load_table, spark, self.dir, "embeddings")
                cents = t.call("similarity.ivf_centroids", S.ivf_centroids, emb, N_CELLS, IVF_ITERS)
                assigned = t.call("similarity.ivf_assign", S.ivf_assign, emb, cents)
                t.call("similarity.write_ivf_cells", S.write_ivf_cells, assigned, path)
                out.append(cents)

            b.op("ivf_build", build, loop=False)
        self.cents, self.ivf = (out or [None])[0], path
        b.note("similarity.write_ivf_cells.files", len(_files(path)))
        b.setup_parts = {"seed_s": b.median("ivf_build")}
        b.report["ivf_build_s"] = b.median("ivf_build")
        self.centroids = np.array([r["centroid"] for r in self.cents.orderBy("cell").collect()])

    # one cycle: minhash, probe, bpe, probe
    def cycle(self, c: int) -> None:
        self.minhash()
        self.probe()
        self.bpe()
        self.probe()

    def minhash(self) -> None:
        b, t, spark = self.b, self.b.tracer, self.b.spark

        def run():
            docs = t.call("sources.load_table", load_table, spark, self.dir, "documents")
            df = t.call("dedup.minhash_near_dup", D.minhash_near_dup, docs, DUP_THRESHOLD)
            with t.span("dedup.minhash_near_dup.exec"):
                rows = df.collect()
            spark.catalog.clearCache()  # the operator persists; drop it like a pipeline step would
            return rows

        def check(rows):
            sh = {}
            for r in rows:
                a, c, j = r["doc_a"], r["doc_b"], r["jaccard"]
                _check(a < c, f"minhash pair ({a}, {c}) not ordered")
                for d in (a, c):
                    if d not in sh:
                        sh[d] = gen.shingles(self.docs[d])
                want = len(sh[a] & sh[c]) / len(sh[a] | sh[c])
                _check(abs(want - j) <= 1e-6 and j >= DUP_THRESHOLD,
                       f"minhash pair ({a}, {c}) jaccard {j}, exact {want:.6f}")
            found = {(r["doc_a"], r["doc_b"]) for r in rows}
            recall = sum(p in found for p in self.planted) / len(self.planted)
            _check(recall >= DUP_RECALL_FLOOR, f"minhash planted-pair recall {recall:.3f}")
            b.note("dedup.verified_pairs", len(rows))

        b.op("minhash", run, check)

    def probe(self) -> None:
        b, t, spark = self.b, self.b.tracer, self.b.spark
        q0 = (self.n_probes % N_QUERY_SETS) * PROBE_QUERIES
        self.n_probes += 1
        qids = list(range(q0, q0 + PROBE_QUERIES))
        rows_in = [(N_VECS + i, [float(x) for x in self.queries[i]]) for i in qids]

        def run():
            qs = spark.createDataFrame(rows_in, "query_id bigint, query_vec array<float>")
            df = t.call("similarity.ivf_pruned_scan_topk", S.ivf_pruned_scan_topk,
                        spark, self.ivf, self.cents, qs, k=10, n_probe=N_PROBE)
            with t.span("similarity.ivf_pruned_scan_topk.exec"):
                return df.collect()

        def check(rows):
            got: dict[int, set] = {}
            for r in rows:
                got.setdefault(r["query_id"] - N_VECS, set()).add(r["vec_id"])
            rec = [len(got.get(i, set()) & set(self.truth_topk[i])) / 10 for i in qids]
            _check(statistics.mean(rec) >= IVF_RECALL_FLOOR,
                   f"ivf recall@10 {statistics.mean(rec):.3f} below {IVF_RECALL_FLOOR}")

        b.op("ivf_probe", run, check)
        b.read("ivf_probe")
        q = self.queries[qids].astype(np.float64)
        cos = (q @ self.centroids.T) / (
            np.linalg.norm(q, axis=1)[:, None] * np.linalg.norm(self.centroids, axis=1)[None, :])
        probed = {int(c) for row in np.argsort(-cos, axis=1)[:, :N_PROBE] for c in row}
        b.note("similarity.cells_probed_share", len(probed) / len(self.centroids))

    def bpe(self) -> None:
        b, t, spark = self.b, self.b.tracer, self.b.spark

        def run():
            docs = t.call("sources.load_table", load_table, spark, self.dir, "documents")
            df = t.call("textstats.bpe_train", TS.bpe_train, docs, BPE_MERGES)
            with t.span("textstats.bpe_train.exec"):
                return df.collect()

        def check(rows):
            got = [(r["step"], r["left_sym"], r["right_sym"], r["pair_count"]) for r in rows]
            _check(got == self.bpe_truth, "bpe merge table differs from the reference trainer")

        b.op("bpe_train", run, check)

    def verify_yield(self) -> None:
        """Traced runs only: candidate pairs from the public band table,
        for the verified ÷ candidate ratio."""
        spark = self.b.spark
        from pyspark.sql import functions as F

        docs = load_table(spark, self.dir, "documents")
        bands = D.band_table(D.minhash_signatures(docs))
        left = bands.select("band", "key", F.col("doc_id").alias("a"))
        right = bands.select("band", "key", F.col("doc_id").alias("b"))
        n = left.join(right, ["band", "key"]).where("a < b").select("a", "b").distinct().count()
        verified = self.b.extra.get("dedup.verified_pairs")
        if n and verified:
            self.b.note("dedup.verify_yield", verified[-1] / n)

    def finish(self) -> None:
        b = self.b
        b.report.update({
            "dedup_docs_per_s": len(self.docs) / b.median("minhash"),
            "ivf_probe_ms_p50": 1e3 * b.median("ivf_probe"),
            "bpe_train_s": b.median("bpe_train"),
        })


WORKLOADS = {"index_rw": IndexRW, "curation": Curation}

# Traced runs wrap these module attributes so the engine's own nested
# calls into the store and functions layers open spans too.
NESTED = (
    (ST, "open_snapshot", "store.open_snapshot", False),
    (ST, "mutation_lease", "store.mutation_lease", True),
    (ST, "swap_partition_dirs", "store.swap_partition_dirs", False),
    (ST, "refresh_manifest", "store.refresh_manifest", False),
    (II, "tokenize", "functions.tokenize", False),
)
