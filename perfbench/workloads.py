"""The benchmark's workloads.

Each workload generates its inputs from the seed (``prepare``).  A
set-up opens them in a new session and plans the program's calls
(``load``); after the set-ups, one priming operation (``prime``) runs
and is checked on the spot.  Then the expected outputs are computed with
DuckDB (``expect``) and operations (``op``) run one after another.  ``op`` makes only the program's calls and returns a
check, run after the measured operations, that lists the correctness
failures (empty when the outputs match).  In a traced run,
``decomposed`` calls each layer's public function on the same input,
one after another, as children of a ``decomposed`` span.

Spans are named after the layer (``<module>.<function>``) whose public
function they time; ``report`` turns them into the workload's
end-to-end figures.
"""

from __future__ import annotations

import os
import shutil
import statistics
from typing import Callable

from . import inputs, oracle
from .trace import Tracer

#: what ``op`` returns: run after the measured operations, it lists the
#: operation's correctness failures
Check = Callable[[], list[str]]

#: priming inputs are this many times smaller than the measured ones;
#: generated apart from them (another seed, same generator), so priming
#: compiles the very plans the measured operations run
PRIME_SHARE = 10


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float]:
    """(q, value): the highest percentile q with at least 10 samples
    beyond it, and the sample at that rank; (0.5, median) when there are
    fewer than 20 samples."""
    xs = sorted(xs)
    n = len(xs)
    if n < 20:
        return 0.5, median(xs)
    q = 1.0 - 10.0 / n
    return q, xs[int(q * n) - 1]


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def data_files(path: str) -> int:
    """Files a reader opens: everything but hidden/underscore markers."""
    n = 0
    for _, _, files in os.walk(path):
        n += sum(1 for f in files if not f.startswith((".", "_")))
    return n


class Workload:
    name = ""
    why = ""
    #: input rows one operation processes
    rows_per_op = 0
    #: True once the inputs hold no further operation
    exhausted = False
    #: operations on the measured inputs before the measured ones,
    #: checked but not timed
    warmup_ops = 0

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.data = os.path.join(work, "data")
        self.out_root = os.path.join(work, "out")
        self._n = 0
        #: output dir of the last operation, kept for ``decomposed``
        self.last_out: str | None = None

    def fresh_dir(self, tag: str) -> str:
        """A new output dir.  Outputs are kept until the run's work dir
        is removed, so checks can read them after the measured window."""
        self._n += 1
        d = os.path.join(self.out_root, f"{tag}-{self._n}")
        shutil.rmtree(d, ignore_errors=True)
        return d

    def prepare(self) -> None:
        """Generate the inputs from the seed."""
        raise NotImplementedError

    def load(self, spark) -> None:
        """Open the inputs in ``spark``, touch each once (one job per
        input) and plan the program's queries, as a fresh session would
        before its first operation."""
        raise NotImplementedError

    def prime(self, spark) -> None:
        """One operation of the workload's code path on the priming
        inputs, checked at once, so the measured operations do not pay
        for first-use class loading, code generation and compilation in
        the JVM and Python workers.  Its time is part of ``setup_s``."""
        raise NotImplementedError

    def expect(self) -> None:
        raise NotImplementedError

    def op(self, spark, tracer: Tracer) -> Check:
        raise NotImplementedError

    def decomposed(self, spark, tracer: Tracer) -> None:
        pass

    def outputs(self, tracer: Tracer) -> None:
        """Record, on the spans, the sizes of what the measured
        operations left on disk (after the measured window)."""

    def report(self, tracer: Tracer) -> dict:
        """Workload-specific end-to-end figures: name -> (value, unit)."""
        return {}


# ---------------------------------------------------------------------------
# transcripts: a fresh full pass and its resume, then a stream epoch
# ---------------------------------------------------------------------------


#: RunReport counts at seed 42 over 600k turns, recorded with bench.py
BASELINE_SEED42 = {"n_turns": 600_000, "n_failed": 41_750,
                   "n_rule_violations": 41_750, "n_unique_violations": 11_150,
                   "n_orphan_violations": 3_048,
                   "n_ordering_violations": 8_450}


class Validation(Workload):
    name = "validate_batch_stream"
    why = ("north-star ValidationRun over 100k turns (fresh pass, then "
           "full resume), plus the next 4.5k-turn stream epoch through the "
           "three foreachBatch callbacks, probing stores earlier epochs "
           "wrote")
    n_rows = 100_000
    n_parts = 64
    #: the stream: epoch 0 primes it, each operation ingests the next
    epoch_rows = 4_500
    n_epochs = 10

    def prepare(self) -> None:
        self.tpath, self.cpath = inputs.transcripts(
            self.data, self.n_rows, self.seed)
        self.prime_paths = inputs.transcripts(
            os.path.join(self.data, "prime"), self.n_rows // PRIME_SHARE,
            self.seed + 1)
        stream = os.path.join(self.data, "stream")
        spath, self.scpath = inputs.transcripts(
            stream, self.epoch_rows * self.n_epochs, self.seed + 2)
        self.epoch_paths = inputs.epochs(
            spath, os.path.join(stream, "epochs"), self.n_epochs)
        self.stream_out = self.fresh_dir("stream")
        self._next = 0
        self.rows_per_op = self.n_rows + self.epoch_rows

    def load(self, spark) -> None:
        from cerberus_spark.engine import SparkValidator
        from cerberus_spark.sources.transcripts import TURN_SCHEMA

        self.t = spark.read.parquet(self.tpath)
        self.c = spark.read.parquet(self.cpath)
        self.sc = spark.read.parquet(self.scpath)
        for df in (self.t, self.c, self.sc):
            df.count()
        # the rule set compiled and planned, as a run and a stream do first
        SparkValidator(TURN_SCHEMA).annotate(self.t)._jdf.queryExecution() \
            .executedPlan()
        self.validator = SparkValidator(TURN_SCHEMA,
                                        key_cols=("conv_id", "turn_idx"))
        self.validator.annotate(spark.read.parquet(self.epoch_paths[0])) \
            ._jdf.queryExecution().executedPlan()
        # a new session restarts the stream on the state it left on disk
        self.cbs = self._callbacks(self.stream_out)

    def _callbacks(self, out: str):
        from cerberus_spark.streaming import validate_stream as S

        return (
            ("streaming.runner", S.foreach_batch_runner(self.validator, out)),
            ("streaming.dataset_checks", S.dataset_checks_foreach_batch(
                out, conversations=self.sc, dedup_text_col="text")),
            ("streaming.drift", S.drift_foreach_batch(out)),
        )

    def expect(self) -> None:
        self.expected = oracle.transcripts_report(self.tpath, self.cpath)
        if self.seed == 42:
            # the twin itself against the counts recorded for the 600k
            # turns of seed 42
            tp, cp = inputs.transcripts(os.path.join(self.data, "seed42"),
                                        600_000, 42)
            bad = oracle.mismatches(BASELINE_SEED42,
                                    oracle.transcripts_report(tp, cp))
            if bad:
                raise RuntimeError(f"DuckDB twin off the baseline: {bad}")

    def _run(self, t, c, out_dir: str):
        from cerberus_spark.run import RunConfig, ValidationRun
        from cerberus_spark.sources.transcripts import TURN_SCHEMA

        return ValidationRun(
            TURN_SCHEMA, RunConfig(out_dir=out_dir, n_parts=self.n_parts)
        ).execute(t, c)

    def _epoch(self, spark, tracer: Tracer) -> Check:
        """The stream's next epoch through the three callbacks."""
        k = self._next
        self._next += 1
        self.exhausted = self._next == self.n_epochs
        with tracer.span("streaming.epoch", epoch=k):
            batch = spark.read.parquet(self.epoch_paths[k])
            for name, cb in self.cbs:
                with tracer.span(name):
                    cb(batch, k)

        def check() -> list[str]:
            import pyarrow.dataset as pads

            got = pads.dataset(os.path.join(self.stream_out, "violations",
                                            f"epoch={k}")).count_rows()
            want = oracle.rule_violations([self.epoch_paths[k]])
            return ([] if got == want else
                    [f"epoch {k}: {got} rule violations != {want}"])
        return check

    def _check(self, fresh, resumed, expected: dict | None) -> Check:
        """Both reports against ``expected`` (the priming runs, which have
        none, against each other), and the partitions each skipped."""
        def check() -> list[str]:
            if expected is None:
                counts = [{k: v for k, v in vars(r).items()
                           if k not in ("drift", "skipped_partitions")}
                          for r in (fresh, resumed)]
                bad = [] if counts[0] == counts[1] else [
                    f"resume report {counts[1]} != fresh {counts[0]}"]
            else:
                bad = oracle.mismatches(vars(fresh), expected)
                bad += [f"resume {k}" for k in
                        oracle.mismatches(vars(resumed), expected)]
            if fresh.skipped_partitions != 0:
                bad.append(f"fresh run skipped {fresh.skipped_partitions} "
                           f"partitions")
            if resumed.skipped_partitions != self.n_parts:
                bad.append(f"resume skipped {resumed.skipped_partitions} "
                           f"of {self.n_parts} partitions")
            return bad
        return check

    def prime(self, spark) -> None:
        """A pass and its resume over the priming inputs, and the stream's
        first epoch, which writes the drift baseline and has no stores to
        probe yet; the measured epochs continue the same stream."""
        t, c = (spark.read.parquet(p) for p in self.prime_paths)
        out = self.fresh_dir("prime")
        bad = self._check(self._run(t, c, out), self._run(t, c, out), None)()
        bad += self._epoch(spark, Tracer())()
        if bad:
            raise RuntimeError(f"priming operation: {bad}")

    def op(self, spark, tracer: Tracer) -> Check:
        out = self.fresh_dir("run")
        self.last_out = out
        with tracer.span("run.execute", mode="fresh"):
            fresh = self._run(self.t, self.c, out)
        with tracer.span("run.execute", mode="resume"):
            resumed = self._run(self.t, self.c, out)
        batch, epoch = (self._check(fresh, resumed, self.expected),
                        self._epoch(spark, tracer))
        return lambda: batch() + epoch()

    def outputs(self, tracer: Tracer) -> None:
        """Files of the last pass's outputs, on its fresh span, and the
        size of the stream's seen-keys and fingerprint stores after the
        last epoch, on its span."""
        fresh = [s for s in tracer.named("run.execute")
                 if s.attrs["mode"] == "fresh"]
        if fresh:
            fresh[-1].attrs["output_files"] = data_files(self.last_out)
            fresh[-1].attrs["checkpoint_files"] = data_files(
                os.path.join(self.last_out, "checkpoint"))
        epochs = tracer.named("streaming.epoch")
        if epochs:
            epochs[-1].attrs["state_mb"] = (
                dir_bytes(os.path.join(self.stream_out, "seen_keys"))
                + dir_bytes(os.path.join(self.stream_out, "seen_fps"))
            ) / 2**20

    def report(self, tracer: Tracer) -> dict:
        spans = tracer.named("run.execute")
        fresh = median([s.wall for s in spans if s.attrs["mode"] == "fresh"])
        resume = median([s.wall for s in spans
                         if s.attrs["mode"] == "resume"])
        epochs = tracer.walls("streaming.epoch")
        q, t = tail(epochs)
        return {"turns_per_s": (self.n_rows / fresh, "turns/s"),
                "fresh_pass_s": (fresh, "s"),
                "resume_pass_s": (resume, "s"),
                "ingest_turns_per_s": (self.epoch_rows * len(epochs)
                                       / sum(epochs), "turns/s"),
                "epoch_p50_s": (median(epochs), "s"),
                "epoch_tail_s": (t, "s"),
                "epoch_tail_percentile": (round(100 * q, 1), "%")}

    def decomposed(self, spark, tracer: Tracer) -> None:
        """Each layer the integrated ``execute`` composes, called on its
        own over the same input, one after another."""
        from pyspark.sql import functions as F

        from cerberus_spark import dsl
        from cerberus_spark.engine import SparkValidator
        from cerberus_spark.operators import dataset as D
        from cerberus_spark.plans import checkpoint as C
        from cerberus_spark.sources.transcripts import TURN_SCHEMA

        keys = ["conv_id", "turn_idx"]
        out = self.fresh_dir("decomposed")
        noop = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731
        with tracer.span("decomposed"):
            with tracer.span("dsl.expand_validate"):
                dsl.RuleSetSchema(TURN_SCHEMA)
            with tracer.span("engine.construct"):
                v = SparkValidator(TURN_SCHEMA,
                                   key_cols=("conv_id", "turn_idx", "part_id"))
            df = self.t.withColumn("part_id",
                                   C.part_id_col("conv_id", self.n_parts))
            with tracer.span("engine.annotate_plan"):
                annotated = v.annotate(df)
                annotated._jdf.queryExecution().executedPlan()
            with tracer.span("sources.scan"):
                noop(self.t)
            with tracer.span("engine.project"):
                annotated.agg(
                    F.count(F.lit(1)),
                    F.sum((~F.col("passed")).cast("long")),
                    F.sum(F.size("violations").cast("long"))).collect()
            with tracer.span("operators.dataset.uniqueness"):
                noop(D.uniqueness_violations(self.t, keys))
            with tracer.span("operators.dataset.referential"):
                noop(D.referential_violations(self.t, self.c, "conv_id",
                                              keys=keys))
            with tracer.span("operators.dataset.ordering"):
                noop(D.ordering_violations(self.t, "conv_id", "turn_idx",
                                           "ts", keys=keys))
            with tracer.span("operators.dataset.profile_drift"):
                prof = D.multi_profile(self.t, [
                    ("role", "role"), ("tool", "tool"),
                    ("text_len", D.length_bucket("text"))])
                D.drift_metrics(prof, prof)
            # the checkpoint layer, over the last operation's outputs
            store = C.CheckpointStore(spark, os.path.join(out, "checkpoint"))
            with tracer.span("plans.checkpoint.read_local_rows"):
                rows = C.read_local_rows(
                    spark, os.path.join(self.last_out, "summary"),
                    columns=["part_id", "n_rows", "n_failed",
                             "n_violations"])
            with tracer.span("plans.checkpoint.commit_rows"):
                store.commit_rows(rows, "snap", "hash")
            with tracer.span("plans.checkpoint.done_partitions"):
                C.CheckpointStore(
                    spark, os.path.join(self.last_out, "checkpoint")
                ).done_partitions("snap", "hash")
        shutil.rmtree(out, ignore_errors=True)


# ---------------------------------------------------------------------------
# corpus operators across the Python/Arrow boundary
# ---------------------------------------------------------------------------


class CorpusOps(Workload):
    name = "corpus_ops"
    why = ("Python/Arrow boundary: pack_sequences' mapInPandas walker "
           "over 12k turns, then band-store build and probe over 400 "
           "generated documents")
    n_rows = 12_000
    n_docs = 400
    budget = 512
    threshold = 0.6
    # after the priming operation the next ones still ran 10-25% slower,
    # one after another, while the JIT compiler worked through code that
    # the priming inputs did not run hot
    warmup_ops = 1

    def prepare(self) -> None:
        self.tpath, _ = inputs.transcripts(self.data, self.n_rows, self.seed)
        self.ref_path, self.new_path = inputs.documents(
            self.data, self.n_docs, self.seed)
        prime = os.path.join(self.data, "prime")
        self.prime_paths = (
            inputs.transcripts(prime, self.n_rows // PRIME_SHARE,
                               self.seed + 1)[0],
            *inputs.documents(prime, self.n_docs // PRIME_SHARE,
                              self.seed + 1))
        self.prime_expected = self._expected(*self.prime_paths)
        self.rows_per_op = self.n_rows + self.n_docs

    def load(self, spark) -> None:
        self.t = spark.read.parquet(self.tpath)
        self.ref = spark.read.parquet(self.ref_path)
        self.new = spark.read.parquet(self.new_path)
        for df in (self.t, self.ref, self.new):
            df.count()
        self._pack_plan(self.t)._jdf.queryExecution().executedPlan()

    def _expected(self, tpath: str, ref_path: str, new_path: str):
        return (oracle.pack(tpath, self.budget),
                oracle.cross_pairs(new_path, ref_path, self.threshold))

    def _pack_plan(self, t):
        from cerberus_spark.operators import pipeline as P

        return P.pack_sequences(t, "conv_id", "turn_idx", "text",
                                budget=self.budget,
                                order_tie=("ts", "role", "text", "tool"))

    def _run(self, t, ref, new, tracer: Tracer, expected) -> Check:
        from cerberus_spark.functions import dedup as DD

        out = self.fresh_dir("run")
        self.last_out = out
        pack_dir, store = os.path.join(out, "pack"), os.path.join(out, "store")
        with tracer.span("operators.pipeline.pack"):
            self._pack_plan(t).write.mode("overwrite").parquet(pack_dir)
        with tracer.span("functions.dedup.build"):
            DD.write_band_store(ref, store, epoch=0, id_col="doc_id",
                                text_col="text")
        with tracer.span("functions.dedup.probe"):
            rows = DD.cross_dup_pairs_stored(
                new, store, "doc_id", "text",
                threshold=self.threshold).collect()

        def check() -> list[str]:
            want_pack, want_pairs = expected
            bad = []
            n = oracle.pack_mismatches(want_pack, pack_dir)
            if n:
                bad.append(f"pack: {n} rows differ from the DuckDB twin")
            got = {(r.id_new, r.id_ref, round(r.jaccard, 6)) for r in rows}
            if got != want_pairs or len(rows) != len(got):
                bad.append(f"probe: {len(got ^ want_pairs)} pairs differ "
                           f"from the DuckDB twin")
            return bad
        return check

    def prime(self, spark) -> None:
        t, ref, new = (spark.read.parquet(p) for p in self.prime_paths)
        bad = self._run(t, ref, new, Tracer(), self.prime_expected)()
        if bad:
            raise RuntimeError(f"priming run: {bad}")

    def expect(self) -> None:
        self.expected = self._expected(self.tpath, self.ref_path,
                                       self.new_path)

    def op(self, spark, tracer: Tracer) -> Check:
        return self._run(self.t, self.ref, self.new, tracer, self.expected)

    def outputs(self, tracer: Tracer) -> None:
        """Size of the last operation's band store, on its build span."""
        builds = tracer.named("functions.dedup.build")
        if builds:
            builds[-1].attrs["store_mb"] = dir_bytes(
                os.path.join(self.last_out, "store")) / 2**20

    def report(self, tracer: Tracer) -> dict:
        return {"pack_s": (median(tracer.walls("operators.pipeline.pack")),
                           "s"),
                "store_build_s": (median(tracer.walls("functions.dedup.build")),
                                  "s"),
                "store_probe_s": (median(tracer.walls("functions.dedup.probe")),
                                  "s")}


WORKLOADS = {w.name: w for w in (Validation, CorpusOps)}
