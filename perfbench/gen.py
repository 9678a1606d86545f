"""Seeded transcript generator: the only input the benchmark hands the lake.

The same (seed, sizes) always yields byte-identical JSONL. The corpus has
the shapes the pipeline's layers depend on:

- topic runs: consecutive spans draw their words from one topic, and a span
  often echoes the previous span's script word for word. The lake's default
  embedding provider hashes the whole text, so only an identical neighbour
  reaches the 0.7 beat threshold; echoes are what make beats group several
  spans (a corpus of all-distinct spans gives one beat per span);
- heavy-tailed (log-normal) episode lengths, for per-episode kernel skew;
- one speaker pool shared by every episode;
- about 1% malformed JSON lines and about 1% invalid utterances
  (end < start, or empty text), counted so ingest can be checked;
- re-delivered episodes: an append batch can carry an episode, byte for
  byte, that an earlier batch already delivered.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field

_SYLLABLES = (
    "ka lo mi ra ve tu sa ne po di gu fa ri ta mo le zu ni be co "
    "da ho ju ke lu ma ni pe qu so"
).split()

VOCAB = [a + b + c for a in _SYLLABLES[:12] for b in _SYLLABLES for c in _SYLLABLES[:4]]
SPEAKERS = [f"speaker_{i:03d}" for i in range(48)]
N_TOPICS = 64
TOPIC_WORDS = 24
ECHO_P = 0.6          # chance a span repeats the previous span's script
MALFORMED_P = 0.01
INVALID_P = 0.01


@dataclass
class Episode:
    episode_id: str
    lines: list[str]
    valid: int
    invalid: int
    malformed: int
    end: float  # end of the last valid utterance, seconds


@dataclass
class Corpus:
    episodes: list[Episode] = field(default_factory=list)

    @property
    def valid(self) -> int:
        return sum(e.valid for e in self.episodes)

    @property
    def invalid(self) -> int:
        return sum(e.invalid for e in self.episodes)

    @property
    def malformed(self) -> int:
        return sum(e.malformed for e in self.episodes)


def topics(seed: int) -> list[list[str]]:
    rng = random.Random(f"topics-{seed}")
    return [rng.sample(VOCAB, TOPIC_WORDS) for _ in range(N_TOPICS)]


def episode_lengths(rng: random.Random, n_episodes: int, mean: int) -> list[int]:
    """Log-normal (sigma 0.8) utterance counts, at least 20 per episode,
    rescaled so they sum to ``n_episodes * mean``: every seed gets the
    same corpus size and a different skew."""
    raw = [rng.lognormvariate(0.0, 0.8) for _ in range(n_episodes)]
    total, floor = n_episodes * mean, 20
    spare = total - floor * n_episodes
    lengths = [floor + int(spare * r / sum(raw)) for r in raw]
    lengths[lengths.index(max(lengths))] += total - sum(lengths)
    return lengths


def _line(ep: str, start: float, end: float, speaker: str, text: str) -> str:
    return json.dumps(
        {"episode_id": ep, "start": round(start, 3), "end": round(end, 3),
         "speaker": speaker, "text": text},
        separators=(",", ":"),
    )


def episode(rng: random.Random, tops: list[list[str]], episode_id: str,
            n_utt: int) -> Episode:
    speakers = rng.sample(SPEAKERS, rng.randint(2, 4))
    lines: list[str] = []
    valid = invalid = malformed = 0
    t = rng.uniform(0.0, 5.0)
    who = 0
    while valid < n_utt:
        words = tops[rng.randrange(N_TOPICS)]
        script: list[str] = []
        for _ in range(rng.randint(2, 7)):  # spans in this topic run
            if not script or rng.random() >= ECHO_P:
                script = [
                    " ".join(rng.choices(words, k=rng.randint(4, 12)))
                    for _ in range(rng.randint(1, 3))
                ]
            who = (who + 1) % len(speakers)  # speaker change ends the span
            for text in script:
                dur = 1.2 + 0.25 * len(text.split()) + rng.uniform(0.0, 0.6)
                lines.append(_line(episode_id, t, t + dur, speakers[who], text))
                valid += 1
                t += dur + rng.uniform(0.05, 0.4)
                r = rng.random()
                if r < INVALID_P:
                    bad = rng.random() < 0.5
                    lines.append(_line(
                        episode_id, t, t - 1.0 if bad else t + 1.0,
                        speakers[who], text if bad else "",
                    ))
                    invalid += 1
                elif r < INVALID_P + MALFORMED_P:
                    lines.append(_line(episode_id, t, t + 1.0, speakers[who], text)[:-9])
                    malformed += 1
        end = t - 0.05
        t += rng.uniform(0.6, 3.0)  # pause between topic runs
    return Episode(episode_id, lines, valid, invalid, malformed, end)


def corpus(seed: int, prefix: str, n_episodes: int, mean_utt: int) -> Corpus:
    rng = random.Random(f"{prefix}-{seed}")
    tops = topics(seed)
    lengths = episode_lengths(rng, n_episodes, mean_utt)
    return Corpus([
        episode(rng, tops, f"{prefix}-{seed}-{i:04d}", n)
        for i, n in enumerate(lengths)
    ])


def write_jsonl(episodes: list[Episode], path: str) -> int:
    """One JSONL file; returns its size in bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for e in episodes:
            f.write("\n".join(e.lines))
            f.write("\n")
    return os.path.getsize(path)


def write_files(c: Corpus, out_dir: str, n_files: int) -> int:
    """Deal episodes round-robin into ``n_files`` JSONL files; returns the
    total bytes written."""
    return sum(
        write_jsonl(c.episodes[i::n_files], os.path.join(out_dir, f"part-{i:03d}.jsonl"))
        for i in range(min(n_files, len(c.episodes)))
    )


def word_bag(rng: random.Random, tops: list[list[str]]) -> str:
    return " ".join(rng.choices(tops[rng.randrange(N_TOPICS)], k=rng.randint(4, 10)))
