"""Shared set-up for the workloads: Spark session, corpus, index builds,
index sizes and the correctness oracles.

All files a run writes live under ``<checkout>/.perfbench_work`` (wiped at
the start and end of every run); results kept for the traced run's
overhead report live under ``<checkout>/.perfbench_results``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import tempfile
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass
from pathlib import Path

from sifter_mrc_search_engine_spark.constants import TERM_BUCKETS
from sifter_mrc_search_engine_spark.functions.xxhash import term_bucket
from sifter_mrc_search_engine_spark.operators.bm25 import bm25_brute_force
from sifter_mrc_search_engine_spark.operators.positional import phrase_topk
from sifter_mrc_search_engine_spark.plans import checkpoint
from sifter_mrc_search_engine_spark.operators import positional
from sifter_mrc_search_engine_spark.sources import pages

from . import layers

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
RESULTS = ROOT / ".perfbench_results"

#: local[CORES]: the benchmark host's core count, fixed so runs compare
CORES = 4
TOP_K = 10


class CheckFailed(AssertionError):
    """An output disagreed with its oracle, or a request failed; the run
    yields no numbers."""

    def __init__(self, message: str, attempted: int = 1, failed: int = 1):
        super().__init__(message)
        self.attempted, self.failed = attempted, failed


def fresh_work_dir() -> Path:
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("tmp", "local", "warehouse"):
        (WORK / sub).mkdir(parents=True)
    return WORK


def remove_work_dir() -> None:
    shutil.rmtree(WORK, ignore_errors=True)


@contextmanager
def spark_session(app: str, event_log: Path | None = None):
    """A local[CORES] session whose scratch files stay under WORK; with
    ``event_log`` the Spark event log is written there. On exit the
    session is stopped and the JVM waited for."""
    from pyspark import SparkContext

    from sifter_mrc_search_engine_spark.session import get_spark

    # executors' Python workers import the library from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    tmp = WORK / "tmp"
    os.environ["TMPDIR"] = tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "local")
    # JVMs write no perf-data files and keep their temp files in WORK
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": str(WORK / "local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # a heap fixed from the start: no heap resizing to vary GC between runs
        "spark.driver.extraJavaOptions": f"{jvm_opts} -Xms2g",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log.as_uri(),
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark(app, master=f"local[{CORES}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    gateway = SparkContext._gateway
    try:
        yield spark
    finally:
        spark.stop()
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def write_corpus(spark, path: Path, n_docs: int, seed: int):
    """Synthesize the seeded pages corpus to parquet and read it back as
    ``(doc_id, text)`` — a corpus is a table on disk."""
    (
        pages.synthesize_pages(spark, n_docs, seed)
        .selectExpr("cast(split(url, '/')[4] as long) as doc_id", "text")
        .write.mode("overwrite")
        .parquet(str(path))
    )
    return spark.read.parquet(str(path))


def build_main(docs, path: Path) -> None:
    checkpoint.build_index_resumable(docs, str(path), buckets=TERM_BUCKETS)


def build_positional(docs, path: Path) -> None:
    positional.write_positional_index(docs, str(path))


def parquet_bytes(path: Path) -> tuple[int, int]:
    """(bytes, files) of the parquet data files under ``path``."""
    files = list(Path(path).rglob("*.parquet"))
    return sum(f.stat().st_size for f in files), len(files)


def index_sizes(main: Path, pos: Path | None) -> dict:
    """On-disk sizes of the main (and positional) index."""
    main_b, main_f = parquet_bytes(main / "postings")
    dl_b, dl_f = parquet_bytes(main / "doclens")
    pos_b = pos_f = pdl_b = pdl_f = 0
    if pos is not None:
        pos_b, pos_f = parquet_bytes(pos / "postings")
        pdl_b, pdl_f = parquet_bytes(pos / "doclens")
    return {
        "index.main_bytes": main_b,
        "index.positional_bytes": pos_b,
        "index.doclens_bytes": dl_b + pdl_b,
        "index.files": main_f + dl_f + pos_f + pdl_f,
        "total_bytes": main_b + dl_b + pos_b + pdl_b,
    }


# --- correctness oracles -------------------------------------------------------


def _bucket_counts(rows) -> dict:
    """bucket -> (distinct terms, postings) over ``(bucket, term, n)`` rows."""
    terms: dict[int, set] = defaultdict(set)
    postings: dict[int, int] = defaultdict(int)
    for b, t, n in rows:
        terms[b].add(t)
        postings[b] += n
    return {b: (len(terms[b]), postings[b]) for b in terms}


def expected_bucket_counts(n_docs: int, seed: int, buckets: int = TERM_BUCKETS) -> dict:
    """bucket -> (distinct vocabulary terms, (term, doc) postings), computed
    in Python from ``pages.doc_terms`` — independent of the index code."""
    bucket_of = {t: term_bucket(t, buckets) for t in pages.VOCAB}
    return _bucket_counts(
        (bucket_of[t], t, 1) for d in range(n_docs) for t in set(pages.doc_terms(d, seed))
    )


def check_index(spark, index_dir: Path, expected: dict, manifest: bool) -> None:
    """Per-bucket distinct-term and postings counts of the vocabulary
    terms in ``index_dir`` equal ``expected``; with ``manifest``, every
    bucket line of ``_manifest.jsonl`` records the postings the bucket
    actually holds."""
    rows = [
        (int(r["bucket"]), r["term"], int(r["n"]))
        for r in spark.read.parquet(str(index_dir / "postings")).select("bucket", "term", "n").collect()
    ]
    vocab = set(pages.VOCAB)
    got = _bucket_counts(row for row in rows if row[1] in vocab)
    if got != expected:
        bad = sorted(b for b in set(got) | set(expected) if got.get(b) != expected.get(b))
        raise CheckFailed(
            f"{index_dir.name}: per-bucket (terms, postings) differ from the corpus "
            f"in buckets {bad[:5]}: got {[got.get(b) for b in bad[:5]]}, "
            f"want {[expected.get(b) for b in bad[:5]]}"
        )
    if manifest:
        lines = checkpoint.read_manifest(str(index_dir), spark)
        recorded = {m["bucket"]: m["postings"] for m in lines if "bucket" in m}
        if any(recorded.get(b, 0) != n for b, (_, n) in _bucket_counts(rows).items()):
            raise CheckFailed(f"{index_dir.name}: _manifest.jsonl postings differ from the data")


def _ranked(rows) -> list[tuple[int, float]]:
    return sorted(((int(r["doc_id"]), float(r["score"])) for r in rows), key=lambda x: (-x[1], x[0]))


def brute_force_topk(docs, question: str) -> list[tuple[int, float]]:
    return _ranked(bm25_brute_force(docs, question, TOP_K).collect())


def phrase_twin_topk(docs, phrase: str) -> list[tuple[int, float]]:
    return _ranked(phrase_topk(docs, phrase, TOP_K).collect())


#: the driver-side kernels take idf from libm ``np.log``, the JVM oracle
#: from ``Math.log``; the two may differ by one ulp (the library's own
#: rank-identity tests allow exactly this, rel 1e-12)
LOG_ULP_REL = 1e-12


def check_answers(what: str, got, want, exact: bool) -> None:
    """Rank identity with the oracle, and equal float64 scores — or,
    when ``exact`` is false, scores within ``LOG_ULP_REL``."""
    got = [(int(d), float(s)) for d, s in got]
    if not want:
        raise CheckFailed(f"{what}: oracle found no documents; every input must hit")
    same_ranks = [d for d, _ in got] == [d for d, _ in want]
    if exact:
        same_scores = [s for _, s in got] == [s for _, s in want]
    else:
        same_scores = all(
            abs(g - w) <= LOG_ULP_REL * max(abs(g), abs(w)) for (_, g), (_, w) in zip(got, want)
        )
    if not (same_ranks and same_scores):
        raise CheckFailed(f"{what}: got {got[:3]}..., oracle {want[:3]}...")


# --- results kept for the tracing-overhead report -------------------------------


def _result_path(workload: str, seed: int, seconds: int) -> Path:
    return RESULTS / f"{workload}-seed{seed}-{seconds}s.json"


def save_untraced(workload: str, seed: int, seconds: int, values: dict) -> None:
    RESULTS.mkdir(exist_ok=True)
    _result_path(workload, seed, seconds).write_text(json.dumps(values))


def load_untraced(workload: str, seed: int, seconds: int) -> dict | None:
    p = _result_path(workload, seed, seconds)
    return json.loads(p.read_text()) if p.exists() else None


def span(tracer, layer: str):
    """``tracer.span(layer)``, or nothing in an untraced run."""
    return tracer.span(layer) if tracer is not None else nullcontext()


def build_indexes(docs, tracer, main: Path, pos: Path | None = None) -> None:
    """Build the main (and positional) index; a traced run records the
    build spans and the phase markers inside them."""
    if tracer is not None:
        layers.install_build_markers(tracer)
    try:
        with span(tracer, "build.main"):
            build_main(docs, main)
        if pos is not None:
            with span(tracer, "build.positional"):
                build_positional(docs, pos)
    finally:
        if tracer is not None:
            tracer.restore()


class Stopwatch:
    """Named wall-clock phases, in seconds."""

    def __init__(self):
        self.t: dict[str, float] = {}

    @contextmanager
    def phase(self, name: str):
        t0 = time.monotonic()
        try:
            yield
        finally:
            self.t[name] = self.t.get(name, 0.0) + time.monotonic() - t0


@dataclass
class Outcome:
    """What one correct workload run measured."""

    e2e: dict
    detail: dict
    layers: dict | None
    attempted: int


def setup_layers(sw: Stopwatch, sizes: dict, jvm_rss_mb: float) -> dict:
    """Per-layer set-up and index-size metrics shared by the workloads."""
    return {
        "session.start_s": sw.t.get("session", 0.0),
        "pages.synth_s": sw.t.get("synth", 0.0),
        "setup.build_s": sw.t.get("build", 0.0),
        "query.preload_s": sw.t.get("preload", 0.0),
        "spark.jvm_rss_mb": jvm_rss_mb,
        **{k: v for k, v in sizes.items() if k.startswith("index.")},
    }
