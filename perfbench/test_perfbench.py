"""Unit tests for the benchmark's own logic (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import random

import pytest

import gen
from run import tail
from tracing import Span, dot_metrics, parse_metric, union_length


# ---- tail percentile ------------------------------------------------------

def test_tail_needs_twenty_samples():
    assert tail([]) is None
    assert tail([float(i) for i in range(19)]) is None
    assert tail([float(i) for i in range(20)]) == (50, 9.0)


@pytest.mark.parametrize("n, pct", [(20, 50), (100, 90), (1000, 99), (37, 72), (21, 52)])
def test_tail_leaves_exactly_ten_samples_above(n, pct):
    xs = [float(i) for i in range(n)]
    random.Random(n).shuffle(xs)
    p, v = tail(xs)
    assert p == pct
    assert sum(x > v for x in xs) == 10


# ---- span self time and driver time --------------------------------------

def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert union_length([(3, 4), (0, 1), (1, 2)]) == pytest.approx(3.0)


def _span(name, start, end, jobs=()):
    s = Span(name, name, start, end)
    s.job_intervals = list(jobs)
    return s


def test_self_time_subtracts_children():
    parent = _span("p", 0.0, 10.0)
    parent.children = [_span("a", 1.0, 4.0), _span("b", 3.0, 6.0)]
    assert parent.self_s() == pytest.approx(5.0)


def test_driver_time_is_wall_minus_union_of_jobs_including_children():
    parent = _span("p", 0.0, 10.0, jobs=[(1.0, 2.0), (8.0, 12.0)])
    child = _span("c", 3.0, 6.0, jobs=[(3.5, 5.0), (4.0, 5.5)])
    parent.children = [child]
    # jobs cover [1,2] + [3.5,5.5] + [8,10] (clipped) = 5 s of the 10 s wall
    assert parent.driver_s() == pytest.approx(5.0)
    assert child.driver_s() == pytest.approx(1.0)
    assert parent.n_jobs() == 4


# ---- Spark metric strings -------------------------------------------------

@pytest.mark.parametrize("text, value", [
    ("288.0 B", 288.0),
    ("1776.2 KiB", 1776.2 * 1024),
    ("25.6 MiB", 25.6 * 2**20),
    ("8 ms", 8.0),
    ("9.6 s", 9600.0),
    ("1.5 m", 90000.0),
    ("100,000", 100000.0),
    ("total (min, med, max (stageId: taskId))\n10.3 s (2.5 s, 2.6 s, 2.7 s (stage 0.0: task 3))",
     10300.0),
    ("total (min, med, max (stageId: taskId))\n128.0 B (32.0 B, 32.0 B, 32.0 B (stage 0.0: task 0))",
     128.0),
])
def test_parse_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)


def test_parse_metric_rejects_garbage():
    with pytest.raises(ValueError):
        parse_metric("n/a")
    with pytest.raises(ValueError):
        parse_metric("12 parsecs")


def test_dot_metrics_reads_nodes_and_clusters():
    dot = (
        'digraph G {\n'
        '  0 [id="node0" labelType="html" label="<b>Exchange</b><br><br>'
        'shuffle bytes written total (min, med, max (stageId: taskId))<br>'
        '288.0 B (72.0 B, 72.0 B, 72.0 B (stage 0.0: task 0))<br>'
        'number of partitions: 64" tooltip="Exchange"];\n'
        '  subgraph cluster2 {\n'
        '    label="WholeStageCodegen (2)\\n \\nduration: total (min, med, max '
        '(stageId: taskId))\\n7.9 s (2.0 s, 2.0 s, 2.0 s (stage 0.0: task 1))";\n'
        '  }\n}'
    )
    got = dot_metrics(dot)
    assert ("Exchange", "number of partitions", "64") in got
    names = {(n, m): parse_metric(v) for n, m, v in got}
    assert names[("Exchange", "shuffle bytes written")] == 288.0
    assert names[("WholeStageCodegen (2)", "duration")] == 7900.0


# ---- generator ------------------------------------------------------------

def _bytes(tmp_path, sub, seed):
    c = gen.corpus(seed, "base", 12, 60)
    gen.write_files(c, str(tmp_path / sub), 3)
    return b"".join((tmp_path / sub / f"part-{i:03d}.jsonl").read_bytes() for i in range(3)), c


def test_generator_is_byte_identical_per_seed(tmp_path):
    a, _ = _bytes(tmp_path, "a", 7)
    b, _ = _bytes(tmp_path, "b", 7)
    c, _ = _bytes(tmp_path, "c", 8)
    assert a == b
    assert a != c


def test_generator_counts_defects():
    c = gen.corpus(3, "base", 40, 200)
    valid = invalid = malformed = 0
    for e in c.episodes:
        for line in e.lines:
            try:
                u = json.loads(line)
            except json.JSONDecodeError:
                malformed += 1
                continue
            if u["end"] <= u["start"] or not u["text"].strip():
                invalid += 1
            else:
                valid += 1
    assert (valid, invalid, malformed) == (c.valid, c.invalid, c.malformed)
    assert 0.005 < invalid / valid < 0.02
    assert 0.005 < malformed / valid < 0.02


def test_generator_shapes():
    c = gen.corpus(5, "base", 200, 100)
    lengths = sorted(e.valid for e in c.episodes)
    # heavy tail: the longest episode is several times the median
    assert lengths[-1] > 3 * lengths[len(lengths) // 2]
    speakers = {json.loads(l)["speaker"] for e in c.episodes for l in e.lines[:50]
                if l.endswith("}")}
    assert speakers <= set(gen.SPEAKERS) and len(speakers) > 20


def test_redelivered_episode_is_identical():
    first = gen.corpus(9, "base", 4, 50).episodes[2]
    again = gen.corpus(9, "base", 4, 50).episodes[2]
    assert first.lines == again.lines and first.episode_id == again.episode_id


def test_every_seed_gets_the_same_corpus_size():
    sizes = {sum(gen.episode_lengths(random.Random(s), 3, 250)) for s in range(20)}
    assert sizes == {750}
