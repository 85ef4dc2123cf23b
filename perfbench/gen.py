"""Seeded Kafka-record generator for the benchmark.

Writes NDJSON chunks in the replay-source shape (key, value, topic,
partition, offset). Offsets are dense per (topic, partition); topics
follow a skewed mix; value sizes are spread over two orders of
magnitude; a share of records are tombstones (null value) or empty
values. Every live value is a JSON object carrying a unique ``id`` and
a ``created_ms`` stamp.

Each chunk is written to a dot-prefixed temp file and renamed into
place, so a file-stream source never lists a partial chunk.
"""

from __future__ import annotations

import os
import random

TOPICS = ("clicks", "orders", "audit", "misc")
TOPIC_WEIGHTS = (0.55, 0.25, 0.12, 0.08)
PARTITIONS = 4
TOMBSTONE_SHARE = 0.05
EMPTY_SHARE = 0.01
# Field names of the value object, as the routed workload decodes them.
VALUE_FIELDS = ("id", "created_ms", "user", "amount", "tag", "pad")
_TAGS = ("alpha", "beta", "gamma", "delta", "epsilon")
_PAD_LENGTHS = (8, 24, 64, 160, 400, 900)
_PAD_WEIGHTS = (0.25, 0.3, 0.2, 0.15, 0.07, 0.03)
_PAD_SOURCE = "abcdefghijklmnopqrstuvwxyz" * 40


class RecordGenerator:
    """Deterministic record stream: the same seed gives the same records.

    ``ids`` maps the id of every live record generated since the last
    ``take_ids()`` to its topic, for the correctness check; tombstones
    and empty values have no entry, since they must land nowhere."""

    def __init__(self, seed: int):
        self._rng = random.Random(seed)
        self._next_offset: dict[tuple[str, int], int] = {}
        self.ids: dict[str, str] = {}

    def records(self, n: int, created_ms: int) -> list[str]:
        rng = self._rng
        topics = rng.choices(TOPICS, TOPIC_WEIGHTS, k=n)
        pads = rng.choices(_PAD_LENGTHS, _PAD_WEIGHTS, k=n)
        lines = []
        for topic, pad_len in zip(topics, pads):
            partition = rng.randrange(PARTITIONS)
            tp = (topic, partition)
            offset = self._next_offset.get(tp, 0)
            self._next_offset[tp] = offset + 1
            rid = f"{topic}:{partition}:{offset}"
            u = rng.random()
            if u < TOMBSTONE_SHARE:
                value = "null"
            elif u < TOMBSTONE_SHARE + EMPTY_SHARE:
                value = '""'
            else:
                start = rng.randrange(len(_PAD_SOURCE) - pad_len)
                # The value is a JSON object embedded as a JSON string,
                # so its quotes are escaped.
                value = (
                    f'"{{\\"id\\":\\"{rid}\\",\\"created_ms\\":{created_ms},'
                    f'\\"user\\":{rng.randrange(100_000)},'
                    f'\\"amount\\":{rng.randrange(100_000) / 100},'
                    f'\\"tag\\":\\"{rng.choice(_TAGS)}\\",'
                    f'\\"pad\\":\\"{_PAD_SOURCE[start:start + pad_len]}\\"}}"'
                )
                self.ids[rid] = topic
            lines.append(
                f'{{"key":"k{rng.randrange(1_000_000)}","value":{value},'
                f'"topic":"{topic}","partition":{partition},"offset":{offset}}}'
            )
        return lines

    def take_ids(self) -> dict[str, str]:
        ids, self.ids = self.ids, {}
        return ids


def write_chunk(directory: str, index: int, lines: list[str]) -> str:
    """Write one chunk atomically: temp file, then rename into place."""
    name = f"chunk-{index:06d}.json"
    tmp = os.path.join(directory, f".{name}.tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    final = os.path.join(directory, name)
    os.rename(tmp, final)
    return final
