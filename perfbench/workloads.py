"""The benchmark's workloads: each drives the lakehouse only through its
public functions, times every call as a span, and checks the outputs
outside the timed region.

- ``lake_build``: one batch build of a seeded corpus in a fresh session
  (ingest → materialize with embeddings → catalog → validate → quality →
  snapshot → IVF index over the span embeddings), then a read phase of
  searches and lookups on the finished lake.
- ``lake_append``: a base lake and IVF index are built in setup; each step
  lands a JSONL batch (new episodes plus one already-ingested episode),
  appends it through the incremental path, then runs a read-your-writes
  search and two lookups on the growing lake.

Both are closed loop with one client: each request waits for the last.
"""

from __future__ import annotations

import glob
import os
import random
import sys
import time
import traceback
from dataclasses import dataclass, field

import duckdb
import pyspark.sql.functions as F

from transcription_lakehouse_spark import (
    aggregation,
    embeddings,
    indexing,
    ingestion,
    pipeline,
    speaker_roles,
)
from transcription_lakehouse_spark.schemas import SPAN_SCHEMA
from transcription_lakehouse_spark.sources.transcripts import (
    read_jsonl,
    with_default_episode_id,
)

import gen
from tracing import Tracer

# corpus sizes (episodes x mean utterances per episode)
BUILD_EPISODES, BUILD_MEAN_UTT = 24, 625
BASE_EPISODES, BASE_MEAN_UTT = 16, 250
APPEND_NEW_EPISODES = 3
# Requests per run: a warm-up (lake_build's first round, lake_append's
# set-up step) and then few timed samples; the run budget of about a
# minute allows no more.
MIN_ROUNDS = 4                      # lake_build: rounds of 1 search + 1 lookup
MIN_STEPS, LOOKUPS_PER_STEP = 2, 2  # lake_append: 1 append, 1 search, 2 lookups
K = 10
LOOKUP_WINDOW_S = 120.0
ZIPF_S = 1.1
# derived artifacts count toward bytes_per_input_byte; the raw JSONL copy,
# the snapshot copy and the rendered quality report do not
NOT_DERIVED = ("raw", "snapshots", "quality_reports")


@dataclass
class Run:
    spark: object
    tmp: str
    seed: int
    seconds: float
    tracer: Tracer
    rng: random.Random
    ops: int = 0
    failed: int = 0
    samples: dict[str, list[float]] = field(default_factory=dict)
    counts: dict[str, float] = field(default_factory=dict)
    phases: dict[str, object] = field(default_factory=dict)  # diagnostics only

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def op(self, ok: bool, what: str) -> None:
        """Count one attempted operation; a wrong output counts as failed."""
        self.ops += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: FAILED {what}", file=sys.stderr)


def fail_guard(run: Run, what: str, fn):
    """Run one request; an exception counts as a failed operation."""
    try:
        return fn()
    except Exception:
        traceback.print_exc(file=sys.stderr)
        run.op(False, f"{what} raised")
        return None


# ---- requests -------------------------------------------------------------

def search(run: Run, index: str, text: str) -> list[tuple[str, float]]:
    """Text query → embed → IVF top-k → collect, as (span_id, sim) by rank."""
    q = run.spark.createDataFrame([("q", text)], "query_id string, text string")
    qv = embeddings.generate_embeddings(q, "query_id", "text", "query")
    rows = indexing.search_ivf(run.spark, qv, index, k=K).collect()
    return [(r["neighbor_id"], r["sim"]) for r in sorted(rows, key=lambda r: r["rank"])]


def lookup(run: Run, lake: str, episode_id: str, lo: float, hi: float) -> list[str]:
    """Spans of one episode whose start falls in [lo, hi)."""
    rows = (
        ingestion.read_versioned(run.spark, lake, "spans")
        .filter(
            (F.col("episode_id") == episode_id)
            & (F.col("start_time") >= lo)
            & (F.col("start_time") < hi)
        )
        .collect()
    )
    return sorted(r["span_id"] for r in rows)


def lookup_oracle(lake: str, episode_id: str, lo: float, hi: float) -> list[str]:
    rows = duckdb.execute(
        "SELECT span_id FROM read_parquet(?) "
        "WHERE episode_id = ? AND start_time >= ? AND start_time < ?",
        [f"{lake}/spans/v1/*.parquet", episode_id, lo, hi],
    ).fetchall()
    return sorted(r[0] for r in rows)


def span_texts(lake: str) -> dict[str, str]:
    return dict(duckdb.execute(
        "SELECT span_id, text FROM read_parquet(?)", [f"{lake}/spans/v1/*.parquet"]
    ).fetchall())


def timed_search(run: Run, index: str, text: str, exact: dict[str, str] | None):
    """One search request. ``exact`` (span_id → text) marks a query that is
    a stored span's text: its rank-1 hit must carry that same text."""
    with run.tracer.span("search") as s:
        hits = fail_guard(run, "search", lambda: search(run, index, text))
    if hits is None:
        return
    run.sample("search_ms", s.wall_s * 1e3)
    ok = len(hits) == K and all(a[1] >= b[1] for a, b in zip(hits, hits[1:]))
    if exact is not None:
        ok = ok and exact.get(hits[0][0]) == text
    run.op(ok, f"search {text[:40]!r}")


def timed_lookup(run: Run, lake: str, ep: gen.Episode):
    lo = round(run.rng.uniform(0.0, max(ep.end - LOOKUP_WINDOW_S, 1.0)), 3)
    hi = lo + LOOKUP_WINDOW_S
    with run.tracer.span("lookup") as s:
        got = fail_guard(run, "lookup", lambda: lookup(run, lake, ep.episode_id, lo, hi))
    if got is None:
        return
    run.sample("lookup_ms", s.wall_s * 1e3)
    run.counts["lookup_rows"] = run.counts.get("lookup_rows", 0) + len(got)
    run.op(got == lookup_oracle(lake, ep.episode_id, lo, hi), f"lookup {ep.episode_id}")


def zipf_picker(rng: random.Random, episodes: list[gen.Episode]):
    """Episodes drawn with a Zipf skew over a seeded popularity order."""
    order = list(episodes)
    rng.shuffle(order)
    weights = [1.0 / (i + 1) ** ZIPF_S for i in range(len(order))]
    return lambda: rng.choices(order, weights)[0]


def read_phase(run: Run, lake: str, index: str, episodes: list[gen.Episode],
               until: float):
    """Closed-loop rounds of one search and one lookup in seeded order, so
    every run gets as many of each; one search in four is the exact text of
    a stored span. Runs MIN_ROUNDS rounds, and more until the clock reads
    ``until``. The first round carries the session's first search (about a
    second slower): it is checked but not sampled."""
    texts = span_texts(lake)
    by_text = sorted(texts.items())
    tops = gen.topics(run.seed)
    pick = zipf_picker(run.rng, episodes)

    def one_search():
        if run.rng.random() < 0.25:
            _, text = by_text[run.rng.randrange(len(by_text))]
            timed_search(run, index, text, texts)
        else:
            timed_search(run, index, gen.word_bag(run.rng, tops), None)

    def one_lookup():
        timed_lookup(run, lake, pick())

    rounds = 0
    while rounds < MIN_ROUNDS or time.time() < until:
        requests = [one_search, one_lookup]
        run.rng.shuffle(requests)
        for request in requests:
            request()
        if rounds == 0:
            run.samples.clear()
        rounds += 1


# ---- storage --------------------------------------------------------------

def derived_files(lake: str) -> list[str]:
    out = []
    for path in glob.glob(os.path.join(lake, "**", "*"), recursive=True):
        rel = os.path.relpath(path, lake)
        if os.path.isfile(path) and rel.split(os.sep)[0] not in NOT_DERIVED:
            out.append(path)
    return out


def storage_counts(run: Run, lake: str) -> None:
    files = derived_files(lake)
    run.counts["storage.files_live"] = sum(f.endswith(".parquet") for f in files)
    run.counts["storage.bytes_live"] = sum(os.path.getsize(f) for f in files)


def build_chain(run: Run, inp: str, lake: str) -> tuple[dict, dict, dict, dict]:
    """The batch build, one span per public call. Returns the ingest,
    materialize, validate and snapshot results."""
    tr = run.tracer
    with tr.span("pipeline.ingest"):
        stats = pipeline.ingest(run.spark, os.path.join(inp, "*.jsonl"), lake)
    with tr.span("pipeline.materialize"):
        shape = pipeline.materialize(run.spark, lake, use_embeddings=True)
    with tr.span("pipeline.catalog"):
        pipeline.catalog(run.spark, lake)
    with tr.span("pipeline.validate"):
        valid = pipeline.validate(run.spark, lake)
    with tr.span("pipeline.quality"):
        pipeline.quality(run.spark, lake)
    with tr.span("pipeline.snapshot"):
        snap = pipeline.snapshot(run.spark, lake, "v1.0.0", allow_red=True)
    with tr.span("index.build"):
        indexing.build_ivf_index(
            ingestion.read_versioned(run.spark, lake, "embeddings_span"),
            os.path.join(lake, "ivf_index"),
        )
    return stats, shape, valid, snap


# ---- lake_build -----------------------------------------------------------

def child_ids_resolve(lake: str) -> bool:
    """Every child-ID array entry names a row of the level below."""
    pairs = [
        ("spans", "utterance_ids", "normalized", "utterance_id"),
        ("beats", "span_ids", "spans", "span_id"),
        ("sections", "beat_ids", "beats", "beat_id"),
    ]
    for parent, arr, child, key in pairs:
        (dangling,) = duckdb.execute(
            f"SELECT count(*) FROM (SELECT unnest({arr}) AS k "
            f"FROM read_parquet('{lake}/{parent}/v1/*.parquet')) p "
            f"ANTI JOIN read_parquet('{lake}/{child}/v1/*.parquet') c ON p.k = c.{key}"
        ).fetchone()
        if dangling:
            print(f"perfbench: {dangling} dangling {parent}.{arr}", file=sys.stderr)
            return False
    return True


def parquet_rows(pattern: str) -> int:
    return duckdb.execute(
        "SELECT count(*) FROM read_parquet(?, hive_partitioning = true)", [pattern]
    ).fetchone()[0]


def lake_build(run: Run) -> dict:
    """Set-up is corpus generation. The timed build is the session's
    first: it pays the first-use costs (code generation, JIT, Python
    worker start) a batch job in a fresh session pays. The build and the
    read phase after it together last at least ``run.seconds``."""
    inp = os.path.join(run.tmp, "build_in")
    t0 = time.time()
    corpus = gen.corpus(run.seed, "build", BUILD_EPISODES, BUILD_MEAN_UTT)
    in_bytes = gen.write_files(corpus, inp, 8)
    gen_s = time.time() - t0

    lake = os.path.join(run.tmp, "lake")
    index = os.path.join(lake, "ivf_index")
    t0 = time.time()
    stats, shape, valid, snap = build_chain(run, inp, lake)
    build_s = time.time() - t0
    run.phases["build_s"] = build_s

    run.counts.update(
        spans_per_utt=shape["spans"] / stats["valid"],
        beats_per_span=shape["beats"] / shape["spans"],
        sections_per_episode=shape["sections"] / len(corpus.episodes),
    )
    if run.counts["beats_per_span"] >= 1.0:
        raise SystemExit("perfbench: degenerate corpus, every span is its own beat")
    ok = (
        stats["valid"] == corpus.valid
        and stats["invalid"] == corpus.invalid
        and valid["ok"]
        and snap["verified"]
        and child_ids_resolve(lake)
        and parquet_rows(f"{index}/**/*.parquet")
        == parquet_rows(f"{lake}/embeddings_span/v1/*.parquet")
    )
    run.op(ok, f"build {stats} {shape} validate_ok={valid['ok']} snapshot={snap['problems']}")

    t1 = time.time()
    read_phase(run, lake, index, corpus.episodes, until=t0 + run.seconds)
    run.phases["reads_s"] = time.time() - t1

    storage_counts(run, lake)
    run.counts["snapshot.bytes_copied"] = sum(
        os.path.getsize(f) for f in glob.glob(f"{snap['snapshot']}/**/*", recursive=True)
        if os.path.isfile(f)
    )
    return {"setup_s": gen_s, "write_s": [build_s], "input_bytes": in_bytes}


# ---- lake_append ----------------------------------------------------------

def base_lake(run: Run, lake: str, inp: str) -> gen.Corpus:
    """The base lake lake_append starts from: ingest, spans, span
    embeddings and an IVF index over them."""
    corpus = gen.corpus(run.seed, "base", BASE_EPISODES, BASE_MEAN_UTT)
    gen.write_files(corpus, inp, 4)
    pipeline.ingest(run.spark, os.path.join(inp, "*.jsonl"), lake)
    utt = ingestion.read_versioned(run.spark, lake, "normalized")
    spans = speaker_roles.enrich_spans(
        aggregation.generate_spans(utt), speaker_roles.SpeakerRoleConfig(), run.spark
    )
    ingestion.write_versioned(spans, lake, "spans", schema=SPAN_SCHEMA)
    spans = ingestion.read_versioned(run.spark, lake, "spans")
    ingestion.write_versioned(
        embeddings.generate_embeddings(spans, "span_id", "text", "span"),
        lake, "embeddings_span",
    )
    indexing.build_ivf_index(
        ingestion.read_versioned(run.spark, lake, "embeddings_span"),
        os.path.join(lake, "ivf_index"),
    )
    return corpus


def append_batch(run: Run, lake: str, path: str) -> tuple[dict, list[str], str]:
    """The incremental path for one landed file, as ``cli ingest
    --incremental`` runs it, then spans and index for the new episodes.
    Returns (ingest stats, new episode ids, index status)."""
    tr, spark = run.tracer, run.spark
    raw = with_default_episode_id(read_jsonl(spark, path))
    with tr.span("ingestion.seen_probe"):
        batch_ids = [
            r["episode_id"]
            for r in raw.select("episode_id").distinct().limit(4097).collect()
        ]
        existing = ingestion.seen_episode_ids(
            spark, lake, "normalized", "v1",
            batch_ids if len(batch_ids) <= 4096 else None,
        ).localCheckpoint()
        seen = {r["episode_id"] for r in existing.collect()}
    with tr.span("ingestion.ingest"):
        stats = ingestion.ingest(
            spark, ingestion.incremental_filter(raw, existing), lake, existing=existing
        )
    new_ids = sorted(set(batch_ids) - seen)
    with tr.span("aggregation.spans"):
        utt = ingestion.read_versioned(spark, lake, "normalized").filter(
            F.col("episode_id").isin(new_ids)
        )
        spans = speaker_roles.enrich_spans(
            aggregation.generate_spans(utt), speaker_roles.SpeakerRoleConfig(), spark
        )
        ingestion.write_versioned(spans, lake, "spans", mode="append", schema=SPAN_SCHEMA)
    with tr.span("index.append"):
        new_spans = ingestion.read_versioned(spark, lake, "spans").filter(
            F.col("episode_id").isin(new_ids)
        )
        status = indexing.ivf_incremental_update(
            spark,
            embeddings.generate_embeddings(new_spans, "span_id", "text", "span"),
            os.path.join(lake, "ivf_index"),
        )
    return stats, new_ids, status


def spans_match_regeneration(run: Run, lake: str) -> bool:
    """The appended spans table equals generate_spans over the final
    normalized table."""
    cols = ["span_id", "episode_id", "start_time", "end_time", "text"]
    got = ingestion.read_versioned(run.spark, lake, "spans").select(cols)
    want = aggregation.generate_spans(
        ingestion.read_versioned(run.spark, lake, "normalized")
    ).select(cols)
    got = got.withColumn("_got", F.lit(True))
    want = want.withColumn("_want", F.lit(True))
    joined = got.join(want, cols, "full_outer")
    return joined.filter(F.col("_got").isNull() | F.col("_want").isNull()).count() == 0


def append_step(run: Run, lake: str, index: str, base: gen.Corpus, pick,
                step: int, rows: int) -> tuple[float | None, int, int]:
    """One lake_append step: a batch lands and is appended, then one
    read-your-writes search and two lookups. Returns (write wall or None
    if the append raised, normalized rows after, JSONL bytes landed)."""
    new = gen.corpus(run.seed, f"append{step}", APPEND_NEW_EPISODES, BASE_MEAN_UTT)
    again = base.episodes[step % len(base.episodes)]
    path = os.path.join(run.tmp, "landing", f"batch-{step:04d}.jsonl")
    landed = gen.write_jsonl(new.episodes + [again], path)

    t0 = time.time()
    with run.tracer.span("append"):
        out = fail_guard(run, "append", lambda: append_batch(run, lake, path))
    if out is None:
        return None, rows, landed
    write_s = time.time() - t0
    stats, new_ids, status = out
    run.counts["indexing.rebuilds"] = (
        run.counts.get("indexing.rebuilds", 0) + status.startswith("rebuilt")
    )
    after = parquet_rows(f"{lake}/normalized/v1/*.parquet")
    run.op(
        stats["valid"] == new.valid
        and sorted(new_ids) == sorted(e.episode_id for e in new.episodes)
        and after == rows + new.valid,
        f"append {stats} {status} rows {rows}->{after}",
    )

    texts = span_texts(lake)
    mine = [r[0] for r in duckdb.execute(
        "SELECT text FROM read_parquet(?) WHERE list_contains(?, episode_id) "
        "ORDER BY span_id",
        [f"{lake}/spans/v1/*.parquet", new_ids],
    ).fetchall()]
    timed_search(run, index, mine[run.rng.randrange(len(mine))], texts)
    for i in range(LOOKUPS_PER_STEP):  # one on a new episode, one Zipf
        timed_lookup(run, lake, new.episodes[run.rng.randrange(len(new.episodes))]
                     if i % 2 == 0 else pick())
    return write_s, after, landed


def lake_append(run: Run) -> dict:
    """Set-up builds the base lake once, cold, then runs one warm step (an
    append, a search and two lookups, checked but not sampled) so that
    the timed steps do not carry the session's first incremental append
    and first search. Timed steps run until ``run.seconds`` have passed,
    and at least MIN_STEPS times."""
    lake = os.path.join(run.tmp, "lake")
    inp = os.path.join(run.tmp, "base_in")
    t0 = time.time()
    base = base_lake(run, lake, inp)
    index = os.path.join(lake, "ivf_index")
    in_bytes = sum(os.path.getsize(f) for f in glob.glob(f"{inp}/*.jsonl"))
    rows = parquet_rows(f"{lake}/normalized/v1/*.parquet")
    pick = zipf_picker(run.rng, base.episodes)
    _, rows, landed = append_step(run, lake, index, base, pick, 0, rows)
    in_bytes += landed
    setup_s = time.time() - t0
    run.tracer.reset()
    run.samples.clear()
    for name in ("indexing.rebuilds", "lookup_rows"):  # per-layer: timed steps only
        run.counts.pop(name, None)

    write_s, step, derived_in_bytes = [], 0, 0
    t_start = time.time()
    while step < MIN_STEPS or time.time() - t_start < run.seconds:
        step += 1
        wall, rows, landed = append_step(run, lake, index, base, pick, step, rows)
        in_bytes += landed
        if wall is not None:
            write_s.append(wall)
        if step == MIN_STEPS:
            # storage after a fixed number of batches, whatever the speed
            storage_counts(run, lake)
            derived_in_bytes = in_bytes

    t_final = time.time()
    (dupes,) = duckdb.execute(
        "SELECT count(*) - count(DISTINCT span_id) FROM read_parquet(?)",
        [f"{lake}/spans/v1/*.parquet"],
    ).fetchone()
    final_ok = dupes == 0 and spans_match_regeneration(run, lake) and parquet_rows(
        f"{index}/**/*.parquet"
    ) == parquet_rows(f"{lake}/spans/v1/*.parquet")
    run.op(final_ok, "final spans/index state")
    run.phases.update(setup_s=setup_s, steps_s=time.time() - t_start,
                      final_check_s=time.time() - t_final, write_s=write_s)
    return {"setup_s": setup_s, "write_s": write_s, "input_bytes": derived_in_bytes}


WORKLOADS = {"lake_build": lake_build, "lake_append": lake_append}
