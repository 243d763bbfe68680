"""The two workloads: inputs, set-up, the timed operations, output checks,
and the traced replay that yields the per-layer metrics.

An operation is one call a client makes and waits for (closed loop, one
client): a ``TranscriptPipeline.run`` for ``kg_bulk``; for ``import_csv`` a
bulk ``Pipeline.run``, then rounds of an INSERT, an UPDATE and a DELETE
delta ``Pipeline.run`` into the same live space. Checks run after each timed
call and outside its timing.
"""

from __future__ import annotations

import contextlib
import shutil
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import functions as F

from gen import ImportSpec, KgSpec, gen_import, gen_kg
from nebula_importer_spark.config import load_config
from nebula_importer_spark.plans.merge import TableStore
from nebula_importer_spark.plans.pipeline import Pipeline
from nebula_importer_spark.transcripts.extract import extract_triples, normalize_mention
from nebula_importer_spark.transcripts.pipeline import TranscriptPipeline

# One kg workload carries both the per-turn volume (a mega-thread holding a
# fifth of the turns, all five predicates, multi-relation turns) and the
# per-vocabulary work (thousands of entities, typo'd mentions that need the
# fuzzy path, multi-hop same_as chains): the time budget of the benchmark
# has room for two workloads, and import_csv must be the other.
KG_SPEC = KgSpec(n_turns=60_000, n_persons=1_500, n_orgs=500, n_places=250, n_tools=250,
                 typo_rate=0.05, dup_rate=0.25, chain=2, oov_rate=0.01, mega_share=0.2)
KG_WARM_TURNS = 2_000
# Output-quality floors: typo'd mentions the fuzzy linker misses cost recall
# by construction, so the floors sit below 1 but well above what a broken
# extraction, linking or canonicalization stage would give.
KG_MIN_PRECISION, KG_MIN_RECALL = 0.95, 0.9

# One warm-up round and two timed rounds of deltas after the bulk load.
IMPORT_SPEC = ImportSpec(n_people=12_000, n_follows=18_000, delta_rounds=3)
SPACE = "bench"


class CheckFailed(AssertionError):
    pass


def check(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


@dataclass
class Samples:
    """Per-operation measurements of one run."""

    ops: int = 0  # timed operations started
    warmup_s: float = 0.0  # untimed warm-up work between timed operations
    walls: list[tuple[str, float]] = field(default_factory=list)  # (kind, wall) per operation
    turns_per_s: list[float] = field(default_factory=list)
    rows_per_s: list[float] = field(default_factory=list)
    delta_s: list[float] = field(default_factory=list)
    precision: list[float] = field(default_factory=list)
    recall: list[float] = field(default_factory=list)
    reject_share: list[float] = field(default_factory=list)


# ---------------------------------------------------------------------------
# kg_bulk
# ---------------------------------------------------------------------------


def _table_arg(args, kwargs) -> str:
    """The ``table`` argument of TableStore.commit / merge_commit."""
    return args[2] if len(args) > 2 else kwargs["table"]


class KgWorkload:
    def __init__(self, work: Path, seed: int):
        self.work = work
        self.inputs = work / "in"
        self.expect = gen_kg(self.inputs, seed, KG_SPEC, KG_WARM_TURNS)
        self.n_ops = 0

    def read_inputs(self, spark) -> None:
        r = spark.read.parquet
        self.transcripts = r(str(self.inputs / "transcripts.parquet"))
        self.warm = r(str(self.inputs / "warmup.parquet"))
        self.aliases = r(str(self.inputs / "aliases.parquet"))
        self.same_as = r(str(self.inputs / "same_as.parquet"))
        self.golden = r(str(self.inputs / "golden.parquet"))

    def warmup(self, spark) -> None:
        """Start the Python worker pool: the extraction kernel over the
        warm-up turns, spread so that every core gets a worker."""
        extract_triples(self.warm.repartition(2 * spark.sparkContext.defaultParallelism)).count()

    def _run(self, spark, transcripts, out: Path):
        t0 = time.perf_counter()
        res = TranscriptPipeline(spark).run(transcripts, self.aliases, self.same_as, out,
                                            stats_interval_sec=3600)
        return res, time.perf_counter() - t0

    def op(self, spark, s: Samples) -> None:
        out = self.work / f"out{self.n_ops}"
        self.n_ops += 1
        s.ops += 1
        try:
            res, wall = self._run(spark, self.transcripts, out)
            self._check(spark, s, res, out, wall)
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def scaling_op(self, spark) -> float:
        """turns/s of one operation over the even-numbered turns (about half;
        a filter keeps the scan's partitioning, where a limit would not)."""
        half = self.transcripts.filter(F.col("turn_idx") % 2 == 0)
        out = self.work / "scaling"
        try:
            res, wall = self._run(spark, half, out)
        finally:
            shutil.rmtree(out, ignore_errors=True)
        return res.turns / wall

    def _check(self, spark, s: Samples, res, out: Path, wall: float) -> None:
        store = TableStore(out / "kg", spark)
        surface = store.read("stage/surface_triples").count()
        edges = store.read("edges/relation")
        n_edges = edges.count()
        n_vertices = store.read("tags/entity").count()
        got = edges.select("conv_id", "turn_idx", F.col("src").alias("subj"), "pred",
                           F.col("dst").alias("obj"))
        tp = got.join(self.golden, ["conv_id", "turn_idx", "subj", "pred", "obj"]).count()
        precision, recall = tp / max(n_edges, 1), tp / max(self.expect["golden"], 1)
        check(res.turns == self.expect["turns"], f"turns {res.turns} != {self.expect['turns']}")
        check(surface == self.expect["surface_relations"],
              f"surface triples {surface} != planted {self.expect['surface_relations']}")
        check(res.triples == n_edges, f"run reports {res.triples} triples, store holds {n_edges}")
        check(res.unlinked_mentions >= self.expect["oov_relations"],
              f"unlinked {res.unlinked_mentions} < planted {self.expect['oov_relations']}")
        check(precision >= KG_MIN_PRECISION and recall >= KG_MIN_RECALL,
              f"precision {precision:.4f} / recall {recall:.4f} below "
              f"{KG_MIN_PRECISION} / {KG_MIN_RECALL}")
        s.walls.append(("run", wall))
        s.turns_per_s.append(res.turns / wall)
        s.rows_per_s.append((n_vertices + n_edges) / wall)
        s.delta_s.append(wall)
        s.precision.append(precision)
        s.recall.append(recall)
        s.reject_share.append(res.unlinked_mentions / surface)

    def traced(self, spark, tracer, s: Samples) -> tuple[dict[str, float], dict[str, list]]:
        """One operation with every public call ``run()`` makes wrapped in a
        span, then its checks. Returns this workload's per-layer metrics and
        the spans that make up each layer."""
        import nebula_importer_spark.transcripts.pipeline as tp

        out = self.work / "traced"
        cc_out = []
        with tracer.wrap(tp.TranscriptPipeline, "triples_surface", "transcripts.extract"), \
                tracer.wrap(tp.TranscriptPipeline, "link_table", "operators.linking"), \
                tracer.wrap(tp.TranscriptPipeline, "canonical_triples", "transcripts.pipeline.canon"), \
                tracer.wrap(tp, "canonical_mapping", "operators.connected_components",
                            on_result=lambda _s, df: cc_out.append(df)), \
                tracer.wrap(TableStore, "commit", "plans.merge.commit", label=_table_arg), \
                tracer.wrap(TableStore, "merge_commit", "plans.merge.merge_commit",
                            label=_table_arg):
            with tracer.span("transcripts.pipeline") as root:
                res, wall = self._run(spark, self.transcripts, out)
        self._check(spark, s, res, out, wall)
        store = TableStore(out / "kg", spark)
        links = store.read("stage/links")
        by_method = {r["method"]: r["n"] for r in
                     links.groupBy("method").agg(F.count("*").alias("n")).collect()}
        surface = store.read("stage/surface_triples")
        vocab = (surface.select(normalize_mention(F.col("subj_sf")).alias("m"))
                 .union(surface.select(normalize_mention(F.col("obj_sf"))))
                 .distinct().count())
        components = (cc_out[0].select("canonical_id").distinct().count() if cc_out else 0)
        m = {
            "transcripts.extract.turns_in": res.turns,
            "transcripts.extract.triples_out": surface.count(),
            "operators.linking.vocab": vocab,
            "operators.linking.exact": by_method.get("exact", 0),
            "operators.linking.fuzzy": by_method.get("fuzzy", 0),
            "operators.linking.linked_share": links.count() / max(vocab, 1),
            "operators.connected_components.pairs_in": self.same_as.count(),
            "operators.connected_components.components": components,
        }
        shutil.rmtree(out, ignore_errors=True)
        # Spark is lazy: a stage's plan executes inside the store commit that
        # persists it, so each stage commit counts toward the layer it
        # materializes.
        busy = {
            "transcripts.extract": [("transcripts.extract", None),
                                    ("plans.merge.commit", "stage/surface_triples")],
            "operators.linking": [("operators.linking", None),
                                  ("plans.merge.commit", "stage/links")],
            "operators.connected_components": [("operators.connected_components", None)],
            "plans.merge": [("plans.merge.merge_commit", None)],
        }
        spans = {layer: [sp for name, key in keys for sp in tracer.find(name, key)]
                 for layer, keys in busy.items()}
        for layer, sps in spans.items():
            m[f"{layer}.busy_s"] = sum(tracer.self_seconds(sp) for sp in sps)
        m["plans.merge.bulk_s"] = m.pop("plans.merge.busy_s")
        cc_s = m["operators.connected_components.busy_s"]
        m["transcripts.pipeline.canon_s"] = res.stages["canon"] - cc_s
        m["transcripts.pipeline.materialize_s"] = res.stages["materialize"]
        m["transcripts.pipeline.wall_s"] = root.seconds
        spans["transcripts.pipeline"] = [root]
        return m, spans


# ---------------------------------------------------------------------------
# import_csv
# ---------------------------------------------------------------------------


class ImportWorkload:
    def __init__(self, work: Path, seed: int):
        self.work = work
        self.plan = gen_import(work / "in", seed, IMPORT_SPEC, SPACE)
        self.n_ops = 0

    def read_inputs(self, spark) -> None:
        self.bulk_cfg = load_config(self.plan["config"])
        cfgs = [load_config(d["config"]) for d in self.plan["deltas"]]
        pairs = list(zip(cfgs, self.plan["deltas"]))
        self.rounds = [pairs[i:i + 3] for i in range(0, len(pairs), 3)]
        self.expected_person = spark.read.parquet(str(self.work / "in" / "expected_person.parquet"))
        self.expected_follows = spark.read.parquet(str(self.work / "in" / "expected_follows.parquet"))

    def _load(self, spark, cfg, out: Path):
        return Pipeline(cfg, spark, staging_dir=str(self.work / "stage")).run(out)

    def warmup(self, spark) -> None:
        """Nothing to start before the bulk load; the deltas are warmed up
        inside ``op``, since they need the live space it creates."""

    def op(self, spark, s: Samples) -> None:
        """A bulk load; a warm-up round of deltas, checked but not timed
        (the JVM's first deltas run up to twice as long as later ones: JIT,
        code generation), whose time counts as set-up; then the two timed
        rounds."""
        out = self.work / f"out{self.n_ops}"
        self.n_ops += 1
        try:
            s.ops += 1
            t0 = time.perf_counter()
            res = self._load(spark, self.bulk_cfg, out)
            wall = time.perf_counter() - t0
            self._check_bulk(spark, s, res, out, wall)
            s.walls.append(("bulk", wall))
            t0 = time.perf_counter()
            self._warm_round(spark, out)
            s.warmup_s += time.perf_counter() - t0
            for deltas in self.rounds[1:]:
                for cfg, d in deltas:
                    s.ops += 1
                    t0 = time.perf_counter()
                    res = self._load(spark, cfg, out)
                    wall = time.perf_counter() - t0
                    self._check_delta(spark, res, out, d)
                    s.delta_s.append(wall)
                    s.walls.append((d["kind"], wall))
        finally:
            shutil.rmtree(out, ignore_errors=True)
            shutil.rmtree(self.work / "stage", ignore_errors=True)

    def _warm_round(self, spark, out: Path) -> None:
        for cfg, d in self.rounds[0]:
            self._check_delta(spark, self._load(spark, cfg, out), out, d)

    def _check_bulk(self, spark, s: Samples, res, out: Path, wall: float) -> None:
        p = self.plan
        check(res.total_written == p["written"], f"written {res.total_written} != {p['written']}")
        check(res.total_rejected == p["rejected"], f"rejected {res.total_rejected} != {p['rejected']}")
        filtered = sum(e.filtered for e in res.elements)
        check(filtered == p["filtered"], f"filtered {filtered} != {p['filtered']}")
        store = TableStore(out / SPACE, spark)
        person, follows = store.read("tags/Person"), store.read("edges/FOLLOWS")
        n_p, n_f = person.count(), follows.count()
        tp = (person.join(self.expected_person, "vid").count()
              + follows.join(self.expected_follows, ["src", "dst", "rank"]).count())
        precision, recall = tp / max(n_p + n_f, 1), tp / (p["persons"] + p["follows"])
        check(precision == 1.0 and recall == 1.0,
              f"bulk keys: precision {precision:.5f} recall {recall:.5f}")
        s.turns_per_s.append(p["source_rows"] / wall)
        s.rows_per_s.append(res.total_written / wall)
        s.precision.append(precision)
        s.recall.append(recall)
        s.reject_share.append(res.total_rejected / p["source_rows"])

    def _check_delta(self, spark, res, out: Path, d: dict) -> None:
        check(res.total_rejected == 0, f"delta {d['kind']}: {res.total_rejected} rejected")
        check(res.total_written == d["rows"],
              f"delta {d['kind']}: written {res.total_written} != {d['rows']}")
        store = TableStore(out / SPACE, spark)
        for table, n in d["counts"].items():
            got = store.read(table).count()
            check(got == n, f"after {d['kind']} delta {table} holds {got} rows, expected {n}")
        keys = list(d["sample"])
        if d["table"] == "tags/Person":
            rows = store.read("tags/Person").filter(F.col("vid").isin(keys)).select("vid", "city")
            got = {r["vid"]: r["city"] for r in rows.collect()}
            check(got == d["sample"], f"after {d['kind']} delta sampled Person rows differ")
        else:
            key = F.concat_ws("|", "src", "dst", F.col("rank").cast("string"))
            left = store.read("edges/FOLLOWS").filter(key.isin(keys)).count()
            check(left == 0, f"after delete delta {left} sampled FOLLOWS edges remain")

    def traced(self, spark, tracer, s: Samples) -> tuple[dict[str, float], dict[str, list]]:
        """What ``op`` does, with the public calls ``Pipeline.run`` makes
        wrapped in spans (the warm-up round stays untraced), each call
        followed by its checks. Returns the per-layer metrics and the spans
        of each layer."""
        import nebula_importer_spark.plans.pipeline as pp

        out = self.work / "traced"
        store = TableStore(out / SPACE, spark)
        m: dict[str, float] = {}
        results, deltas = [], []

        def wraps():
            stack = contextlib.ExitStack()
            stack.enter_context(tracer.wrap(pp, "read_source", "sources.reader"))
            stack.enter_context(tracer.wrap(pp, "map_node", "plans.pipeline.map"))
            stack.enter_context(tracer.wrap(pp, "map_edge", "plans.pipeline.map"))
            stack.enter_context(tracer.wrap(TableStore, "merge_commit",
                                            "plans.merge.merge_commit", label=_table_arg))
            return stack

        with wraps(), tracer.span("plans.pipeline", phase="bulk") as bulk:
            results.append(self._load(spark, self.bulk_cfg, out))
        self._check_bulk(spark, s, results[0], out, bulk.seconds)
        self._warm_round(spark, out)
        with wraps():
            for cfg, d in (p for rnd in self.rounds[1:] for p in rnd):
                before = store.read_manifest()["tables"]
                with tracer.span("plans.pipeline", phase=d["kind"]) as sp:
                    results.append(self._load(spark, cfg, out))
                self._check_delta(spark, results[-1], out, d)
                after = store.read_manifest()["tables"]
                rewritten = {(t, b, v) for t, e in after.items()
                             for b, v in e.get("buckets", {}).items()
                             if before.get(t, {}).get("buckets", {}).get(b) != v}
                written = sum(f.stat().st_size
                              for t, b, v in rewritten
                              for f in (out / SPACE / t / f"v={v}" / f"_b={b}").rglob("*.parquet"))
                incoming = Path(d["config"]).with_suffix(".csv").stat().st_size
                deltas.append((sp, len(rewritten), written, written / incoming))
        reader = tracer.find("sources.reader")
        m["sources.reader.busy_s"] = sum(sp.seconds for sp in reader if sp.parent == bulk.id)
        m["sources.reader.rows_in"] = sum(e.total for e in results[0].elements) + results[0].csv_rejects
        m["sources.reader.rows_rejected"] = results[0].csv_rejects
        m["sources.reader.staging_bytes"] = sum(
            f.stat().st_size for f in (self.work / "stage").rglob("*.parquet"))
        m["plans.pipeline.busy_s"] = tracer.self_seconds(bulk)
        m["plans.pipeline.rows_mapped"] = sum(e.total - e.filtered for e in results[0].elements)
        m["plans.pipeline.rows_filtered"] = sum(e.filtered for e in results[0].elements)
        commits = tracer.find("plans.merge.merge_commit")
        m["plans.merge.bulk_s"] = sum(c.seconds for c in commits if c.parent == bulk.id)
        m["plans.merge.live_s"] = median(
            [sum(c.seconds for c in commits if c.parent == sp.id) for sp, *_ in deltas])
        m["plans.merge.buckets_rewritten"] = median([float(n) for _, n, _, _ in deltas])
        m["plans.merge.bytes_written"] = median([float(b) for _, _, b, _ in deltas])
        m["plans.merge.write_amp"] = median([a for *_, a in deltas])
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(self.work / "stage", ignore_errors=True)
        return m, {
            "sources.reader": reader,
            "plans.pipeline": tracer.find("plans.pipeline"),
            "plans.merge": commits,
        }


WORKLOADS = {"kg_bulk": KgWorkload, "import_csv": ImportWorkload}
