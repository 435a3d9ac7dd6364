"""The four closed-loop workloads: one client (the benchmark's main
thread) calls the engine's public functions and waits for each result
before sending the next request.

Each workload has ``gen`` (inputs + ground truth, not timed as set-up),
``setup`` (fresh dirs, store builds), ``warmup`` (untimed ops; with
``setup`` and the session start part of ``setup_s``), ``op`` (the timed
request, repeated ``ops`` times or for ``--seconds``),
``check_op`` (output checks of that op, not timed) and
``final_check`` (checks over the run's end state). Spans name the
layer each call goes into; they are no-ops unless the run is traced.

Import this module only after ``run.py`` has set the SPARK_GRAFT_*
environment: the engine reads it at import time.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow.parquet as pq

import gen
from uofi_payroll_etl_main_demo_spark.ext import (
    dedup_survivors,
    document_stats,
    exact_dedup,
    gopher_rules,
    ivf_index_add,
    ivf_index_build,
    ivf_index_load,
    minhash_index_build,
    minhash_near_dup_pairs,
)
from uofi_payroll_etl_main_demo_spark.ext.ann_index import ivf_index_delete
from uofi_payroll_etl_main_demo_spark.io.readers import read_csv, read_parquet_table
from uofi_payroll_etl_main_demo_spark.io.writers import write_csv, write_parquet
from uofi_payroll_etl_main_demo_spark.pipelines import (
    CPA_OUTPUT_COLUMNS,
    PUA_COL_MAP,
    cpa_pipeline,
    pua_pipeline,
)
from uofi_payroll_etl_main_demo_spark.streaming.corpus import (
    ingest_dedup_stream_indexed,
)
from uofi_payroll_etl_main_demo_spark.validate import (
    check_data_constraints,
    check_schema_contract,
    not_null,
    unique,
)

PUA_OUTPUT_COLUMNS = [out for out, _src in PUA_COL_MAP]
STRING_SCHEMA = {
    name: ", ".join(f"`{c}` string" for c in header)
    for name, header in (("pua", gen.PUA_HEADER), ("cpa", gen.CPA_HEADER))
}


def du(path: str) -> int:
    """Bytes of regular files under ``path``."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def data_files(path: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(path):
        out += [os.path.join(root, f) for f in files if not f.startswith((".", "_"))]
    return out


class Workload:
    name = ""
    ops: int | None = None  # timed ops per run; None: as many as --seconds allows,
    min_ops = 1  # but at least this many

    def fresh(self, ctx, sub: str) -> str:
        p = os.path.join(ctx.tmp, sub)
        shutil.rmtree(p, ignore_errors=True)
        os.makedirs(p)
        return p

    def warmup(self, ctx) -> None:
        """Untimed ops after the set-up. The batch workloads have none:
        a batch job runs once in a fresh process, so their one timed op
        is the cold one a scheduler would pay for."""

    def before_op(self, ctx, i: int) -> None:
        pass

    def after_check(self, ctx, res) -> None:
        pass

    def final_check(self, ctx) -> list[str]:
        return []

    def layer_extras(self, ctx) -> dict:
        return {}


# ------------------------------------------------------------ etl_batch --


class EtlBatch(Workload):
    """pua_pipeline + cpa_pipeline end to end: CSV in through io.readers,
    output checks through validate, parquet + single-file CSV out
    through io.writers."""

    name = "etl_batch"
    ops = 1

    def gen(self, ctx) -> None:
        self.truth = gen.gen_payroll(ctx.seed, os.path.join(ctx.data, "payroll"))
        self.rows = self.truth.input_rows

    def setup(self, ctx) -> None:
        self.out_root = self.fresh(ctx, "etl_out")

    def op(self, ctx, i: int):
        spark, d, t = ctx.spark, os.path.join(ctx.data, "payroll"), ctx.tracer
        out = os.path.join(self.out_root, f"op{i + 1}")
        with t.span("io.readers"):
            # the fact feeds carry string codes ("0123", " 6… ", "12.0"):
            # read them under their all-string contract; the lookups
            # go through schema inference
            pua = read_csv(spark, f"{d}/pua.csv", schema=STRING_SCHEMA["pua"])
            bw = read_csv(spark, f"{d}/cpa_cert_bw.csv", schema=STRING_SCHEMA["cpa"])
            mn = read_csv(spark, f"{d}/cpa_cert_mn.csv", schema=STRING_SCHEMA["cpa"])
            dims = [read_csv(spark, f"{d}/{n}.csv")
                    for n in ("ts_org", "ts_dept", "overtime_eclass", "te_m")]
        with t.span("pipelines.plan"):
            outs = {
                "pua": pua_pipeline(pua, *dims),
                "cpa": cpa_pipeline(bw, mn, *dims, fiscal_year_end=gen.FISCAL_YEAR_END),
            }
        if t.enabled:
            with t.span("pipelines.optimize"):
                for df in outs.values():
                    df._jdf.queryExecution().executedPlan()
        with t.span("io.writers"):
            for name, df in outs.items():
                write_parquet(df, f"{out}/{name}.parquet")
        with t.span("io.readers"):
            written = {name: read_parquet_table(spark, out, name)
                       for name in outs}
        report = []
        with t.span("validate"):
            for name, cols, keys in (
                ("pua", PUA_OUTPUT_COLUMNS,
                 ("UIN", "Year", "Pay ID", "Pay #", "Seq #", "Job Number")),
                ("cpa", CPA_OUTPUT_COLUMNS, ("UIN", "Job Number")),
            ):
                check_schema_contract(written[name], cols)
                report += check_data_constraints(
                    written[name], [not_null("UIN"), unique(*keys)]).collect()
        with t.span("io.writers"):
            for name, df in written.items():
                write_csv(df, f"{out}/{name}_csv", single_file=True)
        return {"out": out, "report": report, "rows": self.rows}

    def check_op(self, ctx, i: int, res) -> list[str]:
        fails = [f"etl: constraint {r['rule']} failed ({r['n_violations']} rows)"
                 for r in res["report"] if not r["passed"]]
        tr, out = self.truth, res["out"]
        pua = pq.read_table(f"{out}/pua.parquet")
        if pua.column_names != PUA_OUTPUT_COLUMNS:
            fails.append("etl: PUA output columns differ from the contract")
        else:
            c = pua.to_pydict()
            keys = {(u, f"{y}{p}{n}{s}", j) for u, y, p, n, s, j in zip(
                c["UIN"], c["Year"], c["Pay ID"], c["Pay #"], c["Seq #"], c["Job Number"])}
            if len(c["UIN"]) != len(tr.pua_keys) or keys != tr.pua_keys:
                fails.append(f"etl: PUA keys differ ({len(c['UIN'])} rows, "
                             f"{len(tr.pua_keys)} expected): planted duplicates")
            if sum(v is None for v in c["TS-Org Title"]) != tr.pua_null_title:
                fails.append("etl: PUA unmatched TS-Org codes not null-filled")
            if sum(v == "INT" for v in c["Adjustment Reason Code"]) != tr.pua_int_reason:
                fails.append("etl: PUA missing ADJ reason not defaulted to INT")
            if any(tr.pua_time_entry.get(m) != e
                   for m, e in zip(c["TE M"], c["Time Entry"])):
                fails.append("etl: PUA Time Entry is not the TE M mode")
        cpa = pq.read_table(f"{out}/cpa.parquet")
        if cpa.column_names != CPA_OUTPUT_COLUMNS:
            fails.append("etl: CPA output columns differ from the contract")
        else:
            c = cpa.to_pydict()
            keys = set(zip(c["UIN"], c["Job Number"]))
            if len(c["UIN"]) != len(tr.cpa_keys) or keys != tr.cpa_keys:
                fails.append(f"etl: CPA rows differ ({len(c['UIN'])} rows, "
                             f"{len(tr.cpa_keys)} expected): duplicates, ACTION "
                             "or out-of-window rows")
            if sum(v is None for v in c["TS-Org Title"]) != tr.cpa_null_title:
                fails.append("etl: CPA unmatched TS-Org codes not null-filled")
        for name, n in (("pua", pua.num_rows), ("cpa", cpa.num_rows)):
            parts = [f for f in data_files(f"{out}/{name}_csv") if f.endswith(".csv")]
            lines = sum(1 for p in parts for _ in open(p)) if len(parts) == 1 else -1
            if lines != n + 1:
                fails.append(f"etl: {name} CSV is not one file of {n} rows + header")
        res["layer"] = {"io.writers.output_bytes": du(out),
                        "io.writers.files": len(data_files(out))}
        return fails

    def after_check(self, ctx, res) -> None:
        shutil.rmtree(res["out"], ignore_errors=True)


# ------------------------------------------------------- curation_batch --


class CurationBatch(Workload):
    """document_stats + gopher_rules written as a quality table, then
    exact_dedup, minhash_near_dup_pairs and dedup_survivors, the
    survivors written as parquet, a MinHash index built over them, and
    the next batch of new documents ingested against that index as one
    ``ingest_dedup_stream_indexed`` micro-batch."""

    name = "curation_batch"
    ops = 1
    threshold = 0.5
    recall_floor = 0.9
    # the ingester's default "portable" family misses near-duplicates
    # (stream_ingest keeps it and shows the misses); this job uses the
    # JVM-native family minhash_near_dup_pairs defaults to
    hash_family = "xxhash64"

    def gen(self, ctx) -> None:
        self.truth = gen.gen_documents(ctx.seed, os.path.join(ctx.data, "docs"))
        self.shingles = {i: gen.shingles(t, 4) for i, t in self.truth.texts.items()}
        self.incoming_dir = os.path.join(ctx.data, "incoming")
        self.incoming = gen.gen_incoming(ctx.seed, self.truth, self.incoming_dir)
        self.rows = len(self.truth.texts) + len(self.incoming.batches[0])

    def setup(self, ctx) -> None:
        self.out_root = self.fresh(ctx, "curation_out")

    def op(self, ctx, i: int):
        spark, t = ctx.spark, ctx.tracer
        out = os.path.join(self.out_root, f"op{i + 1}")
        with t.span("io.readers"):
            docs = read_parquet_table(spark, os.path.join(ctx.data, "docs"), "documents")
        with t.span("ext.textstats"):
            quality = document_stats(docs).join(gopher_rules(docs), "doc_id")
        with t.span("io.writers"):
            write_parquet(quality, f"{out}/quality")
        with t.span("ext.dedup"):
            exact = exact_dedup(docs).persist()
            exact.count()
            pairs = minhash_near_dup_pairs(exact, threshold=self.threshold).persist()
            pairs.count()
        with t.span("ext.clusters"):
            survivors = dedup_survivors(exact, pairs)
        with t.span("io.writers"):
            write_parquet(survivors, f"{out}/survivors.parquet")
        with t.span("io.readers"):
            kept = read_parquet_table(spark, out, "survivors")
        with t.span("ext.dedup_index"):
            # persist the curated corpus' LSH state in the streaming
            # ingester's shingle size and hash family
            minhash_index_build(kept, f"{out}/mh_index", k=3,
                                hash_family=self.hash_family, corpus_tag="curated")
        stream = (spark.readStream.schema(docs.schema)
                  .parquet(self.incoming_dir))
        with t.span("streaming.corpus"):
            q = ingest_dedup_stream_indexed(
                stream, f"{out}/stream_corpus", f"{out}/mh_index",
                f"{out}/stream_ckpt", threshold=0.2, hash_family=self.hash_family)
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"stream query failed: {q.exception()}")
        return {"out": out, "exact": exact, "pairs": pairs, "rows": self.rows}

    def check_op(self, ctx, i: int, res) -> list[str]:
        fails = []
        exact_ids = {r[0] for r in res["exact"].select("doc_id").collect()}
        pairs = [(r["id_a"], r["id_b"], r["jaccard"]) for r in res["pairs"].collect()]
        if exact_ids != self.truth.exact_survivors:
            fails.append(f"curation: exact_dedup kept {len(exact_ids)} docs, "
                         f"{len(self.truth.exact_survivors)} distinct texts")
        bad = [p for p in pairs
               if abs(gen.jaccard(self.shingles[p[0]], self.shingles[p[1]]) - p[2]) > 1e-6
               or p[2] < self.threshold]
        if bad:
            fails.append(f"curation: {len(bad)} reported pairs below threshold or "
                         "with a wrong Jaccard")
        want = {p for p in self.truth.planted_pairs
                if p[0] in exact_ids and p[1] in exact_ids}
        found = {(a, b) for a, b, _ in pairs}
        recall = len(want & found) / len(want) if want else 1.0
        if recall < self.recall_floor:
            fails.append(f"curation: planted near-dup recall {recall:.3f} "
                         f"< {self.recall_floor}")
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b, _ in pairs:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
        losers = {x for x in parent if find(x) != x}
        out = res["out"]
        got = set(pq.read_table(f"{out}/survivors.parquet").column("doc_id").to_pylist())
        if got != exact_ids - losers:
            fails.append("curation: survivors are not the min id of each cluster")
        if pq.read_table(f"{out}/quality").num_rows != len(self.truth.texts):
            fails.append("curation: quality table is not one row per document")
        batch = self.incoming.batches[0]
        part = f"{out}/stream_corpus/__batch_id=0"
        accepted = (set(pq.read_table(part).column("doc_id").to_pylist())
                    if os.path.isdir(part) else set())
        want = gen.stream_twin(
            [batch], preload=[(i, self.truth.texts[i]) for i in got])[0]
        if accepted & self.incoming.planted_cross:
            fails.append("curation: the streamed batch accepted a planted "
                         "near-dup of a curated doc")
        if accepted != want:
            fails.append(f"curation: the streamed batch accepted {len(accepted)} "
                         f"docs, its exact twin {len(want)}")
        indexed = sum(pq.ParquetFile(f).metadata.num_rows
                      for f in data_files(f"{out}/mh_index/shingles"))
        if (indexed != len(got) + len(accepted)
                or not os.path.isdir(f"{out}/mh_index/meta")):
            fails.append(f"curation: MinHash index holds {indexed} docs, "
                         f"{len(got)} survivors + {len(accepted)} streamed")
        state = [f"{out}/mh_index", f"{out}/stream_ckpt"]  # not outputs
        res["layer"] = {
            "io.writers.output_bytes": du(out) - sum(du(p) for p in state),
            "io.writers.files": (len(data_files(out))
                                 - sum(len(data_files(p)) for p in state)),
            "ext.dedup_index.bytes_on_disk": du(f"{out}/mh_index"),
            "ext.dedup.pairs": len(pairs),
            "ext.clusters.components": len({find(x) for x in parent}),
            "streaming.corpus.rejected": len(batch) - len(accepted),
        }
        return fails

    def after_check(self, ctx, res) -> None:
        self.last_pairs = res["layer"]["ext.dedup.pairs"]
        ctx.spark.catalog.clearCache()
        shutil.rmtree(res["out"], ignore_errors=True)

    def layer_extras(self, ctx) -> dict:
        docs = read_parquet_table(ctx.spark, os.path.join(ctx.data, "docs"), "documents")
        cand = minhash_near_dup_pairs(exact_dedup(docs), verify=False).count()
        ctx.spark.catalog.clearCache()
        return {
            "ext.dedup.candidates": cand,
            "ext.dedup.useful_ratio": self.last_pairs / cand if cand else 0.0,
        }


# ------------------------------------------------------------ ann_serve --


class AnnServe(Workload):
    """A persisted IVF store serving single top-k ``search`` calls; one op
    in ten is a write, alternating ``ivf_index_add`` of a small batch
    and ``ivf_index_delete`` of the oldest batch still added."""

    name = "ann_serve"
    min_ops = 20  # two writes: one add, one delete
    k, nprobe, n_centroids, max_iter, add_batch = 10, 4, 16, 2, 8

    def gen(self, ctx) -> None:
        self.data = gen.gen_vectors(ctx.seed, os.path.join(ctx.data, "vec"))
        self.rows = 1

    def setup(self, ctx) -> None:
        spark, t = ctx.spark, ctx.tracer
        self.dir = self.fresh(ctx, "ivf")
        emb = spark.read.parquet(os.path.join(ctx.data, "vec", "embeddings.parquet"))
        with t.span("ext.ann_index.build"):
            ivf_index_build(emb, self.dir, n_centroids=self.n_centroids,
                            max_iter=self.max_iter, corpus_tag="c0")
            self.index = ivf_index_load(spark, self.dir)
        self.live = {int(i): v for i, v in zip(self.data.ids, self.data.vectors)}
        self.added: list[list[int]] = []  # batches added and not yet deleted
        self.deleted: set[int] = set()
        self.n_writes, self.next_extra = 0, 0
        self.next_id = int(self.data.ids.max()) + 1

    def warmup(self, ctx) -> None:
        for j in range(100, 102):  # reads on queries no timed op uses
            ctx.expect_ok(self.check_op(ctx, j, self.op(ctx, j)))

    def is_write(self, i: int) -> bool:
        return i % 10 == 9

    def op(self, ctx, i: int):
        spark, t = ctx.spark, ctx.tracer
        if not self.is_write(i):
            q = self.data.queries[i % len(self.data.queries)]
            with t.span("ext.ann_index.search"):
                got = self.index.search(q.tolist(), k=self.k, nprobe=self.nprobe).collect()
            return {"kind": "read", "ids": [r[0] for r in got], "rows": 1}
        self.n_writes += 1
        if self.n_writes % 2 == 1 or not self.added:
            vecs = self.data.extra[self.next_extra:self.next_extra + self.add_batch]
            self.next_extra += self.add_batch
            ids = list(range(self.next_id, self.next_id + len(vecs)))
            self.next_id += len(vecs)
            frame = spark.createDataFrame(
                [(i_, v.tolist()) for i_, v in zip(ids, vecs)],
                "vec_id bigint, embedding array<float>",
            )
            tag = f"add{self.n_writes}"
            with t.span("ext.ann_index.add"):
                ivf_index_add(frame, self.dir, new_corpus_tag=tag, batch_id=tag)
                self.index = ivf_index_load(spark, self.dir)
            self.added.append(ids)
            self.live.update(zip(ids, vecs))
            return {"kind": "write", "rows": 1, "added": ids}
        ids = self.added.pop(0)
        with t.span("ext.ann_index.delete"):
            ivf_index_delete(spark, self.dir, ids, new_corpus_tag=f"del{self.n_writes}")
            self.index = ivf_index_load(spark, self.dir)
        for i_ in ids:
            self.live.pop(i_)
        self.deleted.update(ids)
        return {"kind": "write", "rows": 1, "deleted": ids}

    def check_op(self, ctx, i: int, res) -> list[str]:
        if res["kind"] == "write":
            return []
        fails = []
        if len(res["ids"]) != self.k:
            fails.append(f"ann: search returned {len(res['ids'])} rows, not {self.k}")
        if self.deleted & set(res["ids"]):
            fails.append("ann: a deleted id came back from search")
        return fails

    def _truth(self, q: np.ndarray):
        ids = np.fromiter(self.live.keys(), dtype=np.int64)
        vecs = np.stack(list(self.live.values()))
        return gen.brute_force_top_k(vecs, ids, q, self.k)

    def final_check(self, ctx) -> list[str]:
        fails = []
        for q in self.data.queries[-2:]:
            got = self.index.search(q.tolist(), k=self.k,
                                    nprobe=self.n_centroids).collect()
            want_ids, want_s = self._truth(q)
            got_ids = [r[0] for r in got]
            got_s = np.array([r[1] for r in got])
            same = got_ids == [int(x) for x in want_ids]
            # a near-tie may order differently; scores must still agree
            if not same and not np.allclose(got_s, want_s, atol=1e-9):
                fails.append("ann: full-probe search differs from brute force")
            if self.deleted & set(got_ids):
                fails.append("ann: a deleted id came back at full probe")
        for ids in self.added[:1]:
            v = self.live[ids[0]]
            top = self.index.search(v.tolist(), k=1, nprobe=1).collect()
            if not top or top[0][0] != ids[0]:
                fails.append(f"ann: added id {ids[0]} does not retrieve itself")
        return fails

    def layer_extras(self, ctx) -> dict:
        recalls = []
        for q in self.data.queries[-8:-3]:
            got = {r[0] for r in self.index.search(
                q.tolist(), k=self.k, nprobe=self.nprobe).collect()}
            want = {int(x) for x in self._truth(q)[0]}
            recalls.append(len(got & want) / self.k)
        return {"ext.ann_index.recall_at_10": float(np.mean(recalls))}


# -------------------------------------------------------- stream_ingest --


class StreamIngest(Workload):
    """``ingest_dedup_stream_indexed`` over batch files dropped one at a
    time; each op is one availableNow micro-batch, checked against the
    generator's exact-Jaccard twin of the ingester."""

    name = "stream_ingest"

    def gen(self, ctx) -> None:
        self.stage = os.path.join(ctx.data, "stream_stage")
        self.truth = gen.gen_stream(ctx.seed, self.stage)
        self.twin = gen.stream_twin(self.truth.batches)
        self.rows = len(self.truth.batches[0])

    def setup(self, ctx) -> None:
        self.src = self.fresh(ctx, "stream_src")
        self.corpus = self.fresh(ctx, "stream_corpus")
        self.index = self.fresh(ctx, "stream_index")
        self.ckpt = self.fresh(ctx, "stream_ckpt")
        self.batch = 0
        self.schema = ctx.spark.read.parquet(
            os.path.join(self.stage, "batch_00000.parquet")).schema

    def warmup(self, ctx) -> None:
        # the first batch builds the index, the second warms the query path
        for _ in range(2):
            self.before_op(ctx, -1)
            ctx.expect_ok(self.check_op(ctx, -1, self.op(ctx, -1)))

    def before_op(self, ctx, i: int) -> None:
        name = f"batch_{self.batch:05d}.parquet"
        shutil.copyfile(os.path.join(self.stage, name), os.path.join(self.src, name))

    def op(self, ctx, i: int):
        spark, t = ctx.spark, ctx.tracer
        stream = (spark.readStream.schema(self.schema)
                  .option("maxFilesPerTrigger", 1).parquet(self.src))
        with t.span("streaming.corpus"):
            q = ingest_dedup_stream_indexed(
                stream, self.corpus, self.index, self.ckpt, threshold=0.2)
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"stream query failed: {q.exception()}")
        b = self.batch
        self.batch += 1
        return {"batch": b, "rows": len(self.truth.batches[b])}

    def accepted(self, b: int) -> set:
        part = os.path.join(self.corpus, f"__batch_id={b}")
        if not os.path.isdir(part):
            return set()
        return set(pq.read_table(part).column("doc_id").to_pylist())

    def check_op(self, ctx, i: int, res) -> list[str]:
        b = res["batch"]
        got = self.accepted(b)
        res["layer"] = {"streaming.corpus.rejected": len(self.truth.batches[b]) - len(got)}
        fails = []
        if got & self.truth.planted_cross:
            fails.append(f"stream: batch {b} accepted a cross-batch planted duplicate")
        if got != self.twin[b]:
            fails.append(f"stream: batch {b} accepted {len(got)} docs, "
                         f"its exact twin {len(self.twin[b])}")
        return fails

    def final_check(self, ctx) -> list[str]:
        got = set().union(*(self.accepted(b) for b in range(self.batch)))
        want = set().union(*self.twin[:self.batch])
        return [] if got == want else ["stream: final corpus differs from its twin"]

    def layer_extras(self, ctx) -> dict:
        return {"ext.dedup_index.bytes_on_disk": du(self.index)}


WORKLOADS = {w.name: w for w in (EtlBatch, CurationBatch, AnnServe, StreamIngest)}
