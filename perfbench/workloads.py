"""Benchmark workloads: seeded corpora, the timed operation, output checks.

Each workload is a closed loop with one client: ``op`` runs one job to
completion before the next starts, the way a batch run or an
``availableNow`` stream drives the engine.  The program only ever sees the
generated parquet; the seed stays on this side.

Every op starts in a JVM that has run only a small generic query, so the
engine compiles its query plans inside the op, as in a one-shot CLI run
or the first micro-batch of a stream.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random
import shutil
import string
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from intertext_spark import corpus
from intertext_spark.config import DEFAULT
from intertext_spark.operators.windows import assign_file_ids
from intertext_spark.pipeline import Pipeline
from intertext_spark.sources import read_transcripts
from intertext_spark.streaming.incremental import IncrementalReuse

from measure import OpClock, dir_mb

# Golden cases pair_recall covers.  junk / boilerplate / self_repeat are
# filtered or same-conversation by design, noisy15/noisy30 sit below the
# LSH sensitivity curve.
RECALL_CASES = ("verbatim", "shifted", "chain", "noisy5")

# planted_transcripts parameters (the seed is added per run); both
# workloads read this corpus, so the batch path (Pipeline) and the
# streaming path (IncrementalReuse) are measured on equal inputs.  A fixed
# turn count per conversation keeps the corpus size, and with it
# turns_per_s, nearly seed-independent.  The corpus is small because a run
# times one op in a fresh JVM, where Spark's per-job and plan-compile
# costs outweigh the per-row work.
PLANTED = dict(
    n_convs=40, vocab_size=20000, min_turns=8, max_turns=8,
    n_verbatim_pairs=4, n_shifted_pairs=2, n_noisy_per_level=1, n_chains=1,
    boilerplate_frac=0.05, n_junk_pairs=1, n_short=2, n_self_repeat=1,
)
# Two more conversations loop on one 4-word line, one turn per line.  With
# slide_length 4 all their windows are identical, so one band holds
# 2 * 33 = 66 windows, above band_smallgroup_cap (64): that band takes the
# salted hot-band path of candidates.
LOOP_CONVS = 2
LOOP_TURNS = 36

PAIR_COLS = ("file_id_a", "file_id_b", "window_id_a", "window_id_b")


@dataclass
class OpResult:
    wall: float              # seconds: one Pipeline.run / process_batch
    cpu: float               # CPU seconds of the JVM and Python workers in it
    turns: int               # input turns the op processed
    digest: str              # match set keyed by conv_id
    recall: float
    problems: list = field(default_factory=list)  # failed output checks


def build_corpus(seed: int) -> corpus.PlantedCorpus:
    pc = corpus.planted_transcripts(seed=seed, **PLANTED)
    rng = random.Random(seed)
    line = " ".join(
        "".join(rng.choice(string.ascii_lowercase) for _ in range(7))
        for _ in range(4)
    )
    for c in range(LOOP_CONVS):
        pc.rows += [
            (f"loop{c:03d}", t, "assistant", line, None,
             corpus.EPOCH + dt.timedelta(seconds=t))
            for t in range(LOOP_TURNS)
        ]
    return pc


def match_digest(rows, conv_of: dict) -> str:
    """Order-free digest of match rows keyed by conv_id, so it does not
    depend on how file ids were assigned."""
    keys = []
    for fa, fb, wa, wb in rows:
        a, b = (conv_of[fa], wa), (conv_of[fb], wb)
        keys.append(repr(min(a, b)) + repr(max(a, b)))
    return hashlib.sha256("\n".join(sorted(keys)).encode()).hexdigest()[:16]


def pair_recall(rows, conv_of: dict, golden) -> float:
    found = {frozenset((conv_of[fa], conv_of[fb])) for fa, fb, _, _ in rows}
    want = [frozenset((a, b)) for a, b, case in golden if case in RECALL_CASES]
    return sum(p in found for p in want) / len(want)


def edge_group_problems(rows, groups: dict) -> list:
    """Every match edge must have both endpoints in one group; a split
    edge means connected_components stopped before converging."""
    bad = sum(
        1 for fa, fb, wa, wb in rows
        if groups.get((fa, wa)) is None or groups.get((fa, wa)) != groups.get((fb, wb))
    )
    return [f"{bad} match edges span two groups"] if bad else []


_ARROW_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])


def write_transcripts(rows, path: str) -> None:
    """Transcript rows as one parquet file in directory ``path``; written
    with pyarrow so that no Spark work happens while building inputs."""
    cols = list(zip(*rows))
    cols[5] = [t.replace(tzinfo=dt.timezone.utc) for t in cols[5]]
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, _ARROW_SCHEMA)],
        schema=_ARROW_SCHEMA,
    )
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


# Pipeline stage -> the layer (module) whose public call builds it
STAGE_LAYER = {
    "doc_ids": "windows", "docs": "windows", "windows": "windows",
    "hashbands": "signatures", "candidates": "candidates",
    "matches": "matches", "clusters": "clusters", "groups": "graph",
}


class Workload:
    """Seeded corpus in ``work``; subclasses define ``op``, ``traced`` and
    ``op_span``, the span that times the op in a traced run."""

    name = op_span = ""

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.path = os.path.join(work, "corpus.parquet")
        self._n = 0

    def build_inputs(self) -> None:
        self.pc = build_corpus(self.seed)
        # identifies the inputs in the record of match digests
        self.input_sha = hashlib.sha256(repr(self.pc.rows).encode()).hexdigest()[:12]
        write_transcripts(self.pc.rows, self.path)

    def warm_up(self) -> None:
        """Untimed: a small generic query (parquet scan, shuffle, codegen)
        pays the JVM's first-job cost.  The engine's own plans compile in
        the timed op, as they do in a one-shot CLI run."""
        read_transcripts(self.spark, self.path).groupBy("conv_id").count().collect()

    def _fresh(self, prefix: str) -> str:
        self._n += 1
        return os.path.join(self.work, f"{prefix}{self._n}")

    def _sources(self, tracer, m: dict) -> None:
        with tracer.span("sources", self.spark):
            m["sources.rows"] = read_transcripts(self.spark, self.path).count()


class PlantedReuse(Workload):
    """Store-mode ``Pipeline.run`` over dense planted reuse, with matches,
    clusters and groups all materialized (the production CLI shape)."""

    name = "planted_reuse"
    op_span = "pipeline"

    def _run(self, root: str, tracer=None):
        p = Pipeline(self.spark, DEFAULT, checkpoint_root=root)
        if tracer is not None:
            build_stage = p.store.read_or_build

            def traced_stage(name, *args):
                # the store builds each stage eagerly: the layer's call and
                # its parquet write land in the layer's span and job group
                with tracer.span(STAGE_LAYER.get(name, name), self.spark):
                    return build_stage(name, *args)

            p.store.read_or_build = traced_stage
        res = p.run(read_transcripts(self.spark, self.path))
        groups = res["groups"]  # store mode: the CC stage is written here
        return p, res, groups

    def _check(self, res, groups, clock: OpClock) -> OpResult:
        conv_of = {r.file_id: r.conv_id for r in res["doc_ids"].collect()}
        rows = [tuple(r) for r in res["matches"].select(*PAIR_COLS).collect()]
        gmap = {(r.file_id, r.window_id): r.group_id for r in groups.collect()}
        return OpResult(
            wall=clock.wall,
            cpu=clock.cpu,
            turns=len(self.pc.rows),
            digest=match_digest(rows, conv_of),
            recall=pair_recall(rows, conv_of, self.pc.golden),
            problems=edge_group_problems(rows, gmap),
        )

    def op(self) -> OpResult:
        root = self._fresh("ckpt")
        with OpClock() as clock:
            _, res, groups = self._run(root)
        out = self._check(res, groups, clock)
        shutil.rmtree(root, ignore_errors=True)
        return out

    def traced(self, tracer) -> tuple[dict, OpResult]:
        """One op with a span per stage, then a resume over its checkpoint
        root; stage row counts come from the program's stage log."""
        spark, cfg, m = self.spark, DEFAULT, {}
        self._sources(tracer, m)
        root = self._fresh("ckpt")
        with OpClock() as clock, tracer.span("pipeline", spark):
            p, res, groups = self._run(root, tracer)
        out = self._check(res, groups, clock)
        rows = {s["stage"]: s["rows"] for s in p.stage_log}
        m["windows.rows_out"] = rows.get("windows", 0)
        m["signatures.band_rows"] = rows.get("hashbands", 0)
        m["candidates.pairs_out"] = m["matches.pairs_in"] = rows.get("candidates", 0)
        m["matches.rows_out"] = rows.get("matches", 0)
        m["clusters.rows_out"] = rows.get("clusters", 0)
        m["store.write_s"] = sum(s["wall_s"] for s in p.stage_log)
        m["store.bytes_mb"] = dir_mb(root)
        spark.sparkContext.setJobGroup("probe", "")
        m["graph.groups_out"] = groups.select("group_id").distinct().count()
        m["candidates.hot_bands"] = (
            res["hashbands"].groupBy("band")
            .agg(F.countDistinct("file_id", "window_id").alias("n"))
            .where(F.col("n") > cfg.band_smallgroup_cap)
            .count()
        )
        with tracer.span("store", spark):
            self._run(root)
        m["store.resume_s"] = tracer.wall("store")
        shutil.rmtree(root, ignore_errors=True)
        return m, out


class IncrementalAppend(Workload):
    """The streaming path: ``IncrementalReuse.process_batch`` of the corpus
    as one micro-batch into a fresh accumulator (parquet appends,
    accumulator scans, candidates semi-joined to the touched bands)."""

    name = "incremental_append"
    op_span = "incremental"

    def _conv_of(self) -> dict:
        if not hasattr(self, "conv_of"):
            ids = assign_file_ids(read_transcripts(self.spark, self.path), mode="hash")
            self.conv_of = {r.file_id: r.conv_id for r in ids.collect()}
        return self.conv_of

    def _op(self, tracer=None) -> tuple[OpResult, str, IncrementalReuse]:
        root = self._fresh("acc")
        inc = IncrementalReuse(self.spark, DEFAULT, root)
        batch = read_transcripts(self.spark, self.path)
        with OpClock() as clock:
            if tracer is None:
                inc.process_batch(batch, 0)
            else:
                with tracer.span("incremental", self.spark):
                    inc.process_batch(batch, 0)
        rows = [tuple(r) for r in inc.matches().select(*PAIR_COLS).collect()]
        conv_of = self._conv_of()
        out = OpResult(
            wall=clock.wall,
            cpu=clock.cpu,
            turns=len(self.pc.rows),
            digest=match_digest(rows, conv_of),
            recall=pair_recall(rows, conv_of, self.pc.golden),
        )
        return out, root, inc

    def op(self) -> OpResult:
        out, root, _ = self._op()
        shutil.rmtree(root, ignore_errors=True)
        return out

    def traced(self, tracer) -> tuple[dict, OpResult]:
        m = {}
        self._sources(tracer, m)
        out, root, inc = self._op(tracer)
        m["incremental.batch_s"] = tracer.wall("incremental")
        m["incremental.acc_mb"] = dir_mb(root)
        self.spark.sparkContext.setJobGroup("probe", "")
        m["incremental.matches_out"] = inc.matches().count()
        shutil.rmtree(root, ignore_errors=True)
        return m, out


WORKLOADS = {w.name: w for w in (PlantedReuse, IncrementalAppend)}
