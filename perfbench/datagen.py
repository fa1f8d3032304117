"""Seeded input generators for the streaming workloads.

The program never sees a seed: each generator turns ``seed`` into
concrete inputs (Debezium envelope files, embedding vectors) and the
workload hands only those to the engine. The batch tables are not
generated: they are the engine's sf0.1 test data, kept as a fixed copy
under ``perfbench/data/sf0.1`` (:func:`data_dir`).

- :class:`CdcFeed` makes a Debezium change feed over a fixed key space:
  inserts, updates and deletes (including delete-then-reinsert of a
  key), with a strictly increasing ``lsn``; :func:`envelope` and
  :func:`write_jsonl` put it on the file source.
- :class:`AnnFeed` makes embedding upserts and deletes whose inserts
  pile around one direction, so the index's cell occupancy drifts.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os

import numpy as np

#: Dimension of the sf0.1 ``embeddings`` vectors.
EMB_DIM = 64


def data_dir() -> str:
    """The fixed copy of the sf0.1 tables the batch and ANN workloads read."""
    return os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")


def data_fingerprint(path: str) -> dict[str, str]:
    """Content hash (first 16 hex digits of SHA-256) of every table file,
    so a changed copy of the data shows on the detail line."""
    out = {}
    for name in sorted(os.listdir(path)):
        h = hashlib.sha256()
        with open(os.path.join(path, name), "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
        out[name] = h.hexdigest()[:16]
    return out


def unit_rows(x: np.ndarray) -> np.ndarray:
    return x / np.linalg.norm(x, axis=1, keepdims=True)


# ---------------------------------------------------------------- CDC feeds


def _iso(ms: int) -> str:
    return dt.datetime.fromtimestamp(ms / 1000, dt.timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%S.%fZ"
    )


def envelope(op: str, key: str, before, after, lsn: int, ts_ms: int) -> str:
    """One file-source record: Kafka-shaped ``{key, value}`` JSON with a
    Debezium value (reference prototype/message.md)."""
    value = {
        "before": before,
        "after": after,
        "source": {
            "version": "3.2.2.Final", "connector": "postgresql",
            "name": "messages", "ts_ms": ts_ms, "snapshot": "false",
            "db": "postgres", "sequence": json.dumps([str(lsn - 1), str(lsn)]),
            "ts_us": ts_ms * 1000, "ts_ns": ts_ms * 1_000_000,
            "schema": "public", "table": "messages", "txId": 761,
            "lsn": lsn, "xmin": None,
        },
        "transaction": None,
        "op": op,
        "ts": None,
        "ts_ms": ts_ms,
        "ts_us": ts_ms * 1000,
        "ts_ns": ts_ms * 1_000_000,
    }
    return json.dumps({"key": json.dumps({"id": key}), "value": json.dumps(value)})


class CdcFeed:
    """A seeded stream of change events over ``n_keys`` message ids.

    ``next_event(now_ms)`` returns ``(seq, op, key, lsn, before, after)``
    with ``after`` None on delete. About ``p_update`` of the events are
    updates and ``p_delete`` deletes of live keys; the rest insert a key
    drawn from the whole key space, so a deleted key can come back
    (delete-then-reinsert). An insert draw that hits a live key becomes
    an update of it. ``hot_frac`` of the update and delete draws go to
    the first ``hot_keys`` keys, which skews the key distribution.
    """

    def __init__(self, seed: int, n_keys: int, p_update: float = 0.15,
                 p_delete: float = 0.10, hot_keys: int = 0, hot_frac: float = 0.0):
        self.rng = np.random.default_rng([seed, 0xCDC])
        self.keys = [f"k{seed:x}-{i:06d}" for i in range(n_keys)]
        self.live: dict[str, dict] = {}
        self._live_list: list[str] = []
        self._pos: dict[str, int] = {}
        self.p_update, self.p_delete = p_update, p_delete
        self.hot_keys, self.hot_frac = hot_keys, hot_frac
        self.seq = 0
        self.lsn = 1_000

    def _add(self, key: str) -> None:
        self._pos[key] = len(self._live_list)
        self._live_list.append(key)

    def _remove(self, key: str) -> None:
        i = self._pos.pop(key)
        last = self._live_list.pop()
        if last != key:
            self._live_list[i] = last
            self._pos[last] = i

    def _live_key(self) -> str:
        if self.hot_keys and self.rng.random() < self.hot_frac:
            key = self.keys[int(self.rng.integers(0, self.hot_keys))]
            if key in self.live:
                return key
        return self._live_list[int(self.rng.integers(0, len(self._live_list)))]

    def next_event(self, now_ms: int):
        u = self.rng.random()
        if self._live_list and u < self.p_delete:
            op, key = "d", self._live_key()
        elif self._live_list and u < self.p_delete + self.p_update:
            op, key = "u", self._live_key()
        else:
            key = self.keys[int(self.rng.integers(0, len(self.keys)))]
            op = "u" if key in self.live else "i"
        self.seq += 1
        self.lsn += int(self.rng.integers(1, 9))
        before = self.live.get(key)
        if op == "d":
            after = None
            del self.live[key]
            self._remove(key)
        else:
            after = {
                "id": key,
                "create_time": before["create_time"] if before else _iso(now_ms),
                "update_time": _iso(now_ms),
                "message": f"m{self.seq}",
                "username": f"user{int(self.rng.integers(0, 97))}",
            }
            if before is None:
                self._add(key)
            self.live[key] = after
        return self.seq, op, key, self.lsn, before, after


def write_jsonl(path: str, lines: list[str]) -> None:
    """Write under a temporary name, then rename in, so the file source
    never lists a half-written file."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.replace(tmp, path)


# ---------------------------------------------------------------- ANN feed


class AnnFeed:
    """Seeded embedding changes over the bootstrap corpus.

    Inserts (new ids) pile around one fixed direction, so the index's
    cell occupancy drifts and the PSI monitor flags a retrain; updates
    move an existing vector, deletes drop one.
    """

    def __init__(self, seed: int, base: dict[str, list[float]],
                 p_update: float = 0.2, p_delete: float = 0.1):
        self.rng = np.random.default_rng([seed, 0xA22])
        self.live = dict(base)
        self.direction = unit_rows(self.rng.normal(size=(1, EMB_DIM)))[0]
        self.p_update, self.p_delete = p_update, p_delete
        self.next_id = 1_000_000
        self.lsn = 1_000

    def _vec(self, center) -> list[float]:
        v = center + 0.08 * self.rng.normal(size=EMB_DIM)
        return [float(x) for x in v / np.linalg.norm(v)]

    def next_event(self):
        u = self.rng.random()
        self.lsn += 1
        if u < self.p_delete + self.p_update and len(self.live) > 100:
            vid = list(self.live)[int(self.rng.integers(0, len(self.live)))]
            before = {"id": vid, "embedding": self.live[vid]}
            if u < self.p_delete:
                del self.live[vid]
                return "d", vid, before, None, self.lsn
            vec = self._vec(np.asarray(self.live[vid]))
            self.live[vid] = vec
            return "u", vid, before, {"id": vid, "embedding": vec}, self.lsn
        vid = f"n{self.next_id}"
        self.next_id += 1
        vec = self._vec(self.direction)
        self.live[vid] = vec
        return "i", vid, None, {"id": vid, "embedding": vec}, self.lsn
