"""The three benchmark workloads, driven through the package's public calls.

Each workload is one closed loop with a single caller: the next batch
starts only after the previous one has finished and been checked. A
workload object provides

- ``setup_round()``: generate the inputs from the seed, load them, and run
  one untimed warm-up pass (the driver repeats it and times each round);
- ``unit()``: one unit of the timed loop, returning its batches;
- ``done(elapsed, seconds)``: whether the loop may stop here;
- ``output_ratio()``: bytes written per input byte;
- ``layer_metrics()``: the per-layer figures of a traced run.

Outputs are checked batch by batch against oracles the benchmark computes
itself (the pandas reference flatten, the planted duplicates).
"""

from __future__ import annotations

import csv
import json
import os
import shutil
import statistics
import time
import traceback
from dataclasses import dataclass
from typing import Optional

import gen
from spans import Tracer, job_counts

from etl_pipeline_for_elasticsearch_json_document_spark import jobs
from etl_pipeline_for_elasticsearch_json_document_spark.local import json_to_tsv_in_memory
from etl_pipeline_for_elasticsearch_json_document_spark.operators import delta_store, index_maintenance
from etl_pipeline_for_elasticsearch_json_document_spark.operators.dedup import dedup_close

#: export_paged: claims per export and the page (ES ``size``) the job uses.
#: 45 = four full pages and one partial page, so no page query comes back empty.
CLAIMS = 45
PAGE = 10
#: dedup_corpus: documents per pass
CORPUS_DOCS = 2000
#: index_ingest: documents per batch, batches per compaction cycle, the
#: most batches one run can use, and the index's hash partitions (sized for
#: an index of a few thousand fingerprints rather than the store default)
INGEST_BATCH = 200
COMPACT_EVERY = 2
INGEST_MAX_BATCHES = 48
INDEX_PARTITIONS = 8
#: the index size is read after this many batches (two compaction cycles),
#: so the space figure does not depend on how many batches a run completes
MEASURE_AFTER = 2 * COMPACT_EVERY
#: planted duplicates in every ten corpus documents (both corpus workloads)
EXACT_IN_10, NEAR_IN_10 = 1, 1


@dataclass
class Batch:
    #: None when the batch never ran (an earlier step of its unit raised)
    latency_s: Optional[float]
    docs: int
    ok: bool
    #: job group the batch's Spark jobs ran under (traced runs), else None
    group: Optional[str] = None


def _fail(what: str) -> None:
    print(f"check failed: {what}", flush=True)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


class Workload:
    def __init__(self, spark, seed: int, work: str, tracer: Optional[Tracer]):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = tracer

    def group(self, name: str) -> Optional[str]:
        """Start a job group for ``name`` when tracing; return its id."""
        if self.tracer is None:
            return None
        self.spark.sparkContext.setJobGroup(name, name)
        self.tracer.batch = name
        return name

    def span(self, name: str, fn, *args, **kwargs):
        if self.tracer is None:
            return fn(*args, **kwargs)
        return self.tracer.call(name, fn, *args, **kwargs)

    def done(self, elapsed: float, seconds: float) -> bool:
        return elapsed >= seconds

    def spark_counts(self, batches: list[Batch]) -> dict[str, float]:
        groups = [b.group for b in batches if b.group]
        counts = list(job_counts(self.spark.sparkContext, groups).values())
        return {
            "spark.jobs_per_batch": _mean([c[0] for c in counts]),
            "spark.stages_per_batch": _mean([c[1] for c in counts]),
            "spark.tasks_per_batch": _mean([c[2] for c in counts]),
        }


# ---------------------------------------------------------------------------
# export_paged
# ---------------------------------------------------------------------------


class ExportPaged(Workload):
    """``jobs.fetch_and_export_documents`` over seeded claim envelopes; a
    batch is one page. The per-page timer is the paginate step boundary:
    a page runs from the step that fetches it to the step that asks for the
    next one."""

    def __init__(self, *a):
        super().__init__(*a)
        self.steps: list[float] = []
        self.exports = 0
        self.tsv_bytes = 0
        self.input_bytes = 0
        self.page_groups: list[str] = []
        self.rounds = 0

    def setup_round(self) -> None:
        self.rounds += 1
        lines = gen.claim_envelopes(self.seed, CLAIMS, docs_per_response=PAGE)
        self.input = os.path.join(self.work, f"claims-{self.rounds}.json")
        with open(self.input, "w") as f:
            f.write("\n".join(lines) + "\n")
        self.lines = lines
        self.source = self.spark.read.json(self.input)
        # warm-up: export the one response holding the widest claim
        warm = os.path.join(self.work, f"claims-warm-{self.rounds}.json")
        with open(warm, "w") as f:
            f.write(next(l for l in lines if '"claimRequestId": 1000000,' in l) + "\n")
        out = os.path.join(self.work, "warm")
        jobs.fetch_and_export_documents(
            self.spark, self.spark.read.json(warm), os.path.join(out, "tsv"),
            os.path.join(out, "audit"), batch_size=PAGE, bug_compat=True,
        )
        shutil.rmtree(out)

    def build_oracle(self) -> None:
        docs = [h["_source"] for l in self.lines for h in json.loads(l)["hits"]["hits"]]
        ref = json_to_tsv_in_memory(docs)
        self.header = list(ref.columns)
        self.expected = {row["ClaimRequestId"]: row for row in ref.to_dict(orient="records")}
        order = sorted(docs, key=lambda d: (d["auditProcessedDateTimeUtc"], d["claimRequestId"]))
        ids = [str(d["claimRequestId"]) for d in order]
        # page contents keyed by the page's last claim id (the TSV dir name)
        self.pages = {chunk[-1]: chunk for chunk in (ids[i : i + PAGE] for i in range(0, len(ids), PAGE))}
        self.id_col = self.header.index("ClaimRequestId")
        self.input_bytes = os.path.getsize(self.input)
        self._patch()

    def _patch(self) -> None:
        # paginate is timed in every run: its step boundaries are the pages
        clock = self.tracer or Tracer()

        def on_step(i: int) -> None:
            self.steps.append(time.perf_counter())
            if self.tracer is not None:
                self.page_groups.append(self.group(f"e{self.exports}-p{i}"))

        clock.wrap_iter(jobs, "paginate", "keyset.page", on_step)
        if self.tracer is not None:
            t = self.tracer
            t.wrap(jobs, "flatten_stages", "flatten.plan")
            t.wrap(jobs, "apply_flatten_stages", "flatten.apply")
            t.wrap(jobs, "write_tsv", "tsv.write")
            t.wrap(jobs.AuditLog, "success", "audit.write")

    def unit(self) -> list[Batch]:
        out = os.path.join(self.work, f"export-{self.exports}")
        self.steps = []
        self.page_groups = []
        self.group(f"e{self.exports}-head")
        error = None
        try:
            n = self.span(
                "jobs.export", jobs.fetch_and_export_documents, self.spark, self.source,
                os.path.join(out, "tsv"), os.path.join(out, "audit"), batch_size=PAGE, bug_compat=True,
            )
            if n != CLAIMS:
                error = f"export returned {n} docs, expected {CLAIMS}"
        except Exception:
            traceback.print_exc()
            error = "export raised"
        self.exports += 1
        # step i starts page i; the last step is the one that finds no more
        lat = [b - a for a, b in zip(self.steps, self.steps[1:])]
        written = self._check_pages(os.path.join(out, "tsv"))
        batches = []
        for i, last in enumerate(self.pages):
            ok = error is None and written.get(last, False)
            group = self.page_groups[i] if i < len(self.page_groups) else None
            batches.append(Batch(lat[i] if i < len(lat) else None, len(self.pages[last]), ok, group))
        if error:
            _fail(error)
        shutil.rmtree(out, ignore_errors=True)
        return batches

    def _check_pages(self, tsv_dir: str) -> dict[str, bool]:
        """Per page (keyed by its last claim id): the TSV has the reference
        header, exactly the page's claims, and every cell equal to the pandas
        reference flatten of the same claims."""
        result: dict[str, bool] = {}
        prefix = "rta_claim_headers_"
        names = os.listdir(tsv_dir) if os.path.isdir(tsv_dir) else []
        for name in names:
            last = name[len(prefix) :].split("_")[0]
            parts = [f for f in os.listdir(os.path.join(tsv_dir, name)) if f.startswith("part-")]
            rows: list[list[str]] = []
            header = None
            for p in parts:
                path = os.path.join(tsv_dir, name, p)
                self.tsv_bytes += os.path.getsize(path)
                with open(path, newline="") as f:
                    r = csv.reader(f, delimiter="\t", quotechar='"', escapechar="\\", doublequote=False)
                    header = next(r, None)
                    rows.extend(r)
            result[last] = self._page_ok(last, header, rows)
        missing = set(self.pages) - set(result)
        if missing:
            _fail(f"{len(missing)} pages not written")
        return result

    def _page_ok(self, last: str, header, rows) -> bool:
        if last not in self.pages:
            _fail(f"unexpected page {last}")
            return False
        if header != self.header:
            _fail(f"page {last}: header differs from the reference ({len(header or [])} vs {len(self.header)} columns)")
            return False
        want = self.pages[last]
        got = [r[self.id_col] for r in rows]
        if sorted(got) != sorted(want):
            _fail(f"page {last}: rows {len(got)} differ from the expected {len(want)}")
            return False
        for r in rows:
            exp = self.expected[r[self.id_col]]
            bad = [c for c, v in zip(self.header, r) if v != str(exp[c])]
            if bad:
                _fail(f"page {last}: {len(bad)} cells differ, e.g. {bad[0]}")
                return False
        return True

    def output_ratio(self) -> float:
        return self.tsv_bytes / (self.input_bytes * self.exports)

    def layer_metrics(self, batches: list[Batch]) -> dict[str, float]:
        t = self.tracer
        # page window: from its keyset step to the end of its TSV write
        w, a, k = ({s.batch: s for s in t.named(n)} for n in ("tsv.write", "flatten.apply", "keyset.page"))
        selfs, walls, ks, aps, ws = [], [], [], [], []
        for b in batches:
            g = b.group
            if g not in w:
                continue
            window = w[g].end - k[g].start
            ks.append(k[g].dur)
            aps.append(a[g].dur)
            ws.append(w[g].dur)
            selfs.append(window - k[g].dur - a[g].dur - w[g].dur)
            walls.append(b.latency_s)
        n_pages = len(ws)
        return {
            "keyset.page_s": _mean(ks),
            "keyset.pages": float(n_pages),
            "flatten.plan_s": _mean([s.dur for s in t.named("flatten.plan")]),
            "flatten.columns": float(len(self.header)),
            "flatten.apply_s": _mean(aps),
            "tsv.write_s": _mean(ws),
            "tsv.bytes": self.tsv_bytes / max(1, n_pages),
            "audit.write_s": _mean([s.dur for s in t.named("audit.write")]),
            "audit.rows": len(t.named("audit.write")) / self.exports,
            "jobs.self_s": _mean(selfs),
            "jobs.page_coverage": (sum(ks) + sum(aps) + sum(ws) + sum(selfs)) / sum(walls) if walls else 0.0,
        }


# ---------------------------------------------------------------------------
# dedup_corpus
# ---------------------------------------------------------------------------


class DedupCorpus(Workload):
    """Repeated full ``dedup_close`` passes over one cached seeded corpus;
    a batch is one pass, consumed by collecting its result."""

    def __init__(self, *a):
        super().__init__(*a)
        self.df = None
        self.passes: list[tuple[int, float]] = []  # (clusters, representative share)

    def setup_round(self) -> None:
        docs = gen.CorpusGen(self.seed, EXACT_IN_10, NEAR_IN_10).batch(CORPUS_DOCS)
        if self.df is not None:
            self.df.unpersist()
        self.df = self.spark.createDataFrame([(d.doc_id, d.text) for d in docs], "doc_id long, text string").cache()
        self.df.count()
        self.docs = docs
        dedup_close(self.df).collect()

    def build_oracle(self) -> None:
        self.text_bytes = {d.doc_id: len(d.text.encode()) for d in self.docs}
        self.exact = [(d.doc_id, d.origin) for d in self.docs if d.kind == "exact"]
        self.kept_bytes = 0

    def unit(self) -> list[Batch]:
        g = self.group(f"d{len(self.passes)}")
        t0 = time.perf_counter()
        try:
            rows = self.span("dedup.close", lambda: dedup_close(self.df).collect())
            lat = time.perf_counter() - t0
            ok = self._check(rows)
        except Exception:
            traceback.print_exc()
            lat, ok = time.perf_counter() - t0, False
        return [Batch(lat, CORPUS_DOCS, ok, g)]

    def _check(self, rows) -> bool:
        """Every doc once, one representative (its minimum id) per cluster,
        every planted exact copy in its original's cluster."""
        cluster = {r["doc_id"]: r["cluster_id"] for r in rows}
        if len(rows) != CORPUS_DOCS or set(cluster) != set(self.text_bytes):
            _fail(f"dedup returned {len(rows)} rows for {CORPUS_DOCS} docs")
            return False
        reps = [r["doc_id"] for r in rows if r["is_representative"]]
        clusters = set(cluster.values())
        if sorted(reps) != sorted(clusters):
            _fail(f"{len(reps)} representatives for {len(clusters)} clusters")
            return False
        split = [c for c, o in self.exact if cluster[c] != cluster[o]]
        if split:
            _fail(f"{len(split)} exact copies outside their original's cluster")
            return False
        self.passes.append((len(clusters), len(reps) / CORPUS_DOCS))
        self.kept_bytes = sum(self.text_bytes[r] for r in reps)
        return True

    def output_ratio(self) -> float:
        # the deduplicated corpus (representatives' text) per input text byte
        return self.kept_bytes / sum(self.text_bytes.values())

    def layer_metrics(self, batches: list[Batch]) -> dict[str, float]:
        return {
            "dedup.close_s": _mean([s.dur for s in self.tracer.named("dedup.close")]),
            "dedup.clusters": _mean([p[0] for p in self.passes]),
            "dedup.rep_frac": _mean([p[1] for p in self.passes]),
        }


# ---------------------------------------------------------------------------
# index_ingest
# ---------------------------------------------------------------------------


class IndexIngest(Workload):
    """A fixed seeded sequence of batches through ``ingest_with_index``;
    every ``COMPACT_EVERY`` batches the batch also compacts and prunes the
    index. The loop stops at a compaction boundary, so every run covers
    whole cycles."""

    def __init__(self, *a):
        super().__init__(*a)
        self.i = 0
        self.chain: list[int] = []
        self.statuses: dict[str, int] = {}

    @staticmethod
    def _batches(seed: int, n_batches: int) -> list[tuple[list[tuple[int, str]], int, int]]:
        """Per batch: its (doc_id, text) rows, the planted exact duplicates
        in it (text seen earlier in the stream), and its text bytes."""
        g = gen.CorpusGen(seed, EXACT_IN_10, NEAR_IN_10)
        seen: set[str] = set()
        out = []
        for _ in range(n_batches):
            docs = g.batch(INGEST_BATCH)
            dups = 0
            for d in docs:
                dups += d.text in seen
                seen.add(d.text)
            out.append(([(d.doc_id, d.text) for d in docs], dups, sum(len(d.text.encode()) for d in docs)))
        return out

    def _frame(self, rows):
        return self.spark.createDataFrame(rows, "doc_id long, text string")

    def setup_round(self) -> None:
        self.batches = self._batches(self.seed, INGEST_MAX_BATCHES)
        # warm-up on its own stream and index: one ingest, compact, prune
        warm = os.path.join(self.work, "warm-index")
        df = self._frame(self._batches(self.seed + 7919, 1)[0][0])
        index_maintenance.ingest_with_index(self.spark, warm, df, n_partitions=INDEX_PARTITIONS).groupBy(
            "status"
        ).count().collect()
        index_maintenance.compact_fingerprint_index(self.spark, warm)
        index_maintenance.prune_fingerprint_versions(warm)
        shutil.rmtree(warm)

    def build_oracle(self) -> None:
        self.index = os.path.join(self.work, "index")
        self.input_bytes = 0

    def done(self, elapsed: float, seconds: float) -> bool:
        whole = self.i % COMPACT_EVERY == 0 and self.i >= MEASURE_AFTER
        return (elapsed >= seconds and whole) or self.i >= INGEST_MAX_BATCHES

    def _chain_len(self) -> int:
        versions = delta_store.committed_versions(self.index)
        snaps = [v for v in versions if delta_store.is_snapshot(self.index, v)]
        return len([v for v in versions if not snaps or v > snaps[-1]])

    def unit(self) -> list[Batch]:
        rows, dups, nbytes = self.batches[self.i]
        df = self._frame(rows)
        if self.tracer is not None:
            self.chain.append(self._chain_len())
        g = self.group(f"i{self.i}")
        self.i += 1
        t0 = time.perf_counter()
        try:
            res = self.span(
                "index.ingest", index_maintenance.ingest_with_index, self.spark, self.index, df,
                n_partitions=INDEX_PARTITIONS,
            )
            counts = dict(self.span("index.consume", lambda: res.groupBy("status").count().collect()))
            if self.i % COMPACT_EVERY == 0:
                self.span("index.compact", index_maintenance.compact_fingerprint_index, self.spark, self.index)
                self.span("index.prune", index_maintenance.prune_fingerprint_versions, self.index)
            lat = time.perf_counter() - t0
            ok = self._check(counts, dups)
        except Exception:
            traceback.print_exc()
            lat, ok = time.perf_counter() - t0, False
        if self.i <= MEASURE_AFTER:
            self.input_bytes += nbytes
            if self.i == MEASURE_AFTER:
                self.index_bytes = _dir_bytes(self.index)
        return [Batch(lat, INGEST_BATCH, ok, g)]

    def _check(self, counts: dict[str, int], dups: int) -> bool:
        """Status counts sum to the batch size; exact duplicates (against
        the index or earlier in the batch) equal those planted."""
        got = counts.get("duplicate_corpus", 0) + counts.get("duplicate_batch", 0)
        if sum(counts.values()) != INGEST_BATCH or got != dups or counts.get("no_text", 0):
            _fail(f"batch {self.i}: statuses {counts}, expected {dups} exact duplicates")
            return False
        for k, v in counts.items():
            self.statuses[k] = self.statuses.get(k, 0) + v
        return True

    def output_ratio(self) -> float:
        return self.index_bytes / self.input_bytes

    def layer_metrics(self, batches: list[Batch]) -> dict[str, float]:
        t = self.tracer
        return {
            "index.ingest_s": _mean([s.dur for s in t.named("index.ingest")]),
            "index.compact_s": _mean([s.dur for s in t.named("index.compact")]),
            "index.prune_s": _mean([s.dur for s in t.named("index.prune")]),
            "index.consume_s": _mean([s.dur for s in t.named("index.consume")]),
            "index.chain_len": _mean(self.chain),
            "index.ingested_frac": self.statuses.get("ingested", 0) / max(1, sum(self.statuses.values())),
        }


WORKLOADS = {"export_paged": ExportPaged, "dedup_corpus": DedupCorpus, "index_ingest": IndexIngest}


def percentile(xs: list[float], q: int) -> float:
    """The ``q``-th percentile (25/50/75) by the inclusive quartile method."""
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=4, method="inclusive")[q // 25 - 1]
