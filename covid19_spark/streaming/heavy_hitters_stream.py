"""The Misra-Gries counter fold a micro-batch stream threads through its
state: ``q_mg_stream_replay`` shards items by ``pmod(xxhash64(item),
shards)`` and replays this fold over three micro-batches, so an item's
counters accumulate across batches in exactly one shard.

With capacity ``m`` and ``N_g`` items folded into shard ``g``,
``true − N_g/m ≤ est ≤ true`` for every item of that shard, and every
item with ``count·m > N_g`` is present in its shard's counters.
"""

from __future__ import annotations

from collections.abc import Iterator


def mg_update(counters: dict[str, int], items: Iterator[str], capacity: int) -> None:
    """The textbook decrement-all Misra-Gries step, shared with the batch
    operator's semantics (operators/sketch.py)."""
    for item in items:
        if item is None:
            continue
        item = str(item)
        if item in counters:
            counters[item] += 1
        elif len(counters) < capacity:
            counters[item] = 1
        else:
            dead = []
            for k in counters:
                counters[k] -= 1
                if counters[k] == 0:
                    dead.append(k)
            for k in dead:
                del counters[k]


