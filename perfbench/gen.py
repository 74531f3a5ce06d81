"""Seeded transcript generator: multi-speaker meeting transcripts.

Everything here is a pure function of its seed, so the same seed gives
byte-identical input files. The program under test only ever sees the
files written here.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field

WORDS = (
    "the a we so and but it this that team plan data model query cost "
    "budget launch review design test deploy metric user customer issue "
    "fix release week month quarter goal risk owner task sprint meeting "
    "note action item follow update status blocker scope estimate chart "
    "report number growth churn revenue pipeline cluster spark job stage "
    "partition shuffle memory disk network latency throughput cache index "
    "schema table column join filter window summary chunk token prompt "
    "reply agent speaker transcript minute hour today tomorrow yesterday "
    "think know want need should could would will can maybe really just "
    "good bad fast slow big small new old first last next early late"
).split()

BLANKS = ("", "   ", "\t\n")
MERGE_CAP_S = 120.0  # the pipeline's same-speaker merge cap


@dataclass
class Transcript:
    """One generated transcript plus the counts the output checks need."""

    name: str
    segments: list[dict]
    blank_ids: set[int] = field(default_factory=set)
    repeated_words: int = 0
    oversized: int = 0
    speakers: int = 0

    @property
    def cleaned_ids(self) -> list[int]:
        """Positions of the segments the cleaner keeps (non-blank)."""
        return [i for i in range(len(self.segments)) if i not in self.blank_ids]


def _sentence(rng: random.Random, n_words: int) -> tuple[str, int]:
    """Words with ~10% of segments carrying one immediate repetition."""
    words = [rng.choice(WORDS) for _ in range(n_words)]
    repeated = 0
    if rng.random() < 0.10:
        i = rng.randrange(n_words)
        words.insert(i, words[i])
        repeated = 1
    cut = rng.randrange(1, n_words + 1)
    text = " ".join(words[:cut]) + "."
    if cut < n_words:
        text += " " + " ".join(words[cut:]) + "?"
    return text[0].upper() + text[1:], repeated


def make_transcript(name: str, seed: int, n_segments: int) -> Transcript:
    """2-6 speakers, same-speaker runs of 1-10 segments, durations long
    enough that runs cross the 120 s merge cap, ~1% blank segments and a
    few segments far over any chunk budget used by the workloads."""
    rng = random.Random(f"transcript:{name}:{seed}")
    speakers = [f"SPEAKER_{i:02d}" for i in range(rng.randint(2, 6))]
    n_over = max(1, n_segments // 2000)
    oversized_at = set(rng.sample(range(n_segments), n_over))
    tr = Transcript(name=name, segments=[], speakers=len(speakers))
    t, prev = 0.0, None
    while len(tr.segments) < n_segments:
        speaker = rng.choice([s for s in speakers if s != prev])
        prev = speaker
        for _ in range(rng.randint(1, 10)):
            i = len(tr.segments)
            if i >= n_segments:
                break
            if i in oversized_at:
                text, rep = _sentence(rng, rng.randint(700, 900))
                tr.oversized += 1
            elif rng.random() < 0.01:
                text, rep = rng.choice(BLANKS), 0
                tr.blank_ids.add(i)
            else:
                text, rep = _sentence(rng, rng.randint(4, 40))
            tr.repeated_words += rep
            duration = round(rng.uniform(4.0, 45.0), 2)
            tr.segments.append({
                "start": round(t, 2),
                "end": round(t + duration, 2),
                "text": text,
                "speaker": speaker,
            })
            t += duration + round(rng.uniform(0.0, 1.5), 2)
    return tr


def write_transcripts(
    out_dir: str, seed: int, n_docs: int, segments_per_doc: int
) -> list[Transcript]:
    """Write ``n_docs`` transcripts as ``<out_dir>/t<i>.json``."""
    os.makedirs(out_dir, exist_ok=True)
    docs = []
    for i in range(n_docs):
        tr = make_transcript(f"t{i:04d}", seed, segments_per_doc)
        with open(os.path.join(out_dir, tr.name + ".json"), "w") as f:
            json.dump({"segments": tr.segments}, f)
        docs.append(tr)
    return docs
