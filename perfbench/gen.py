"""Seeded inputs and oracles for the vector-database workloads.

Everything the program sees is made here from the run's seed: the corpus
(a Gaussian mixture with payload text and a label), the query stream and
the writer script. The oracles are NumPy: a brute-force top-k over the
model's rows, and a model of the writer script that knows the rows of every
committed version.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field

import numpy as np

DIM = 64
CLUSTERS = 64
CORPUS_ROWS = 10_000
K = 10
#: Share of queries that carry a ``where`` prefilter on the label.
FILTERED_SHARE = 0.25
INSERT_ROWS = 100
#: One writer cycle: appends and whole-snapshot rewrites (UPDATE/DELETE
#: drop the index), then TRUNCATEWAL. On knn-serve the first append goes
#: to the bucketed snapshot REINDEX left (index maintenance) and the first
#: DELETE rewrites it flat.
CYCLE = ("INSERT", "DELETE", "INSERT", "UPDATE", "INSERT", "DELETE",
         "INSERT", "UPDATE", "INSERT", "DELETE", "INSERT", "TRUNCATEWAL")


def label_name(label: int) -> str:
    return f"L{label:02d}"


class Mixture:
    """The corpus distribution: CLUSTERS Gaussian blobs in DIM dimensions."""

    def __init__(self, seed: int):
        rng = np.random.default_rng([seed, 0])
        self.centers = rng.standard_normal((CLUSTERS, DIM)) * 3.0

    def draw(self, n: int, rng: np.random.Generator) -> tuple[np.ndarray, np.ndarray]:
        labels = rng.integers(0, CLUSTERS, n)
        vecs = self.centers[labels] + rng.standard_normal((n, DIM))
        return vecs.astype(np.float32), labels.astype(np.int64)


@dataclass
class Version:
    """What one committed version holds: the live-row mask, each row's
    payload, and whether the sign-LSH index is live for it. Rows appended
    by later versions lie beyond the end of its arrays."""

    alive: np.ndarray
    payload: np.ndarray
    indexed: bool


@dataclass
class Model:
    """The rows every committed version holds, keyed by version number.

    Rows are never re-used: ids grow with INSERT, DELETE clears ``alive``,
    UPDATE rewrites ``payload``. Embeddings and labels never change, so
    one array of each serves every version."""

    ids: np.ndarray
    emb: np.ndarray
    labels: np.ndarray
    payload: np.ndarray
    alive: np.ndarray
    indexed: bool = False
    versions: dict[int, Version] = field(default_factory=dict)

    @classmethod
    def corpus(cls, seed: int) -> tuple["Model", Mixture]:
        mix = Mixture(seed)
        emb, labels = mix.draw(CORPUS_ROWS, np.random.default_rng([seed, 1]))
        ids = np.arange(CORPUS_ROWS, dtype=np.int64)
        payload = np.array(
            [f"doc {i} {label_name(l)}" for i, l in zip(ids, labels)], dtype=object
        )
        return cls(ids, emb, labels, payload, np.ones(CORPUS_ROWS, bool)), mix

    def commit(self, version: int) -> None:
        self.versions[version] = Version(
            self.alive.copy(), self.payload.copy(), self.indexed
        )

    def append(self, ids, emb, labels, payload) -> None:
        self.ids = np.concatenate([self.ids, ids])
        self.emb = np.concatenate([self.emb, emb])
        self.labels = np.concatenate([self.labels, labels])
        self.payload = np.concatenate([self.payload, payload])
        self.alive = np.concatenate([self.alive, np.ones(len(ids), bool)])

    def user_bytes(self) -> int:
        return row_bytes(self.payload[self.alive])

    def checksum(self) -> tuple[int, str]:
        """(row count, sha256) of the live rows in id order."""
        return content_checksum(
            self.ids[self.alive], self.payload[self.alive],
            self.labels[self.alive], self.emb[self.alive],
        )


def row_bytes(payloads) -> int:
    """User bytes of rows: 8 of id + 4·DIM of vector + the payload's UTF-8
    length, per row."""
    return len(payloads) * (8 + 4 * DIM) + sum(len(p.encode()) for p in payloads)


def content_checksum(ids, payloads, labels, emb) -> tuple[int, str]:
    order = np.argsort(ids, kind="stable")
    h = hashlib.sha256()
    for i in order:
        h.update(int(ids[i]).to_bytes(8, "little", signed=True))
        h.update(str(payloads[i]).encode())
        h.update(label_name(int(labels[i])).encode())
        h.update(np.asarray(emb[i], dtype=np.float32).tobytes())
    return len(ids), h.hexdigest()


def query_stream(mix: Mixture, seed: int, client: int):
    """An endless seeded stream of SEARCHSIMILAR specs for one client:
    vectors near a cluster centre, a quarter of them prefiltered on the
    label of that cluster."""
    rng = np.random.default_rng([seed, 2, client])
    while True:
        c = int(rng.integers(CLUSTERS))
        vec = mix.centers[c] + rng.standard_normal(DIM)
        spec = {"vector": [float(x) for x in vec], "k": K}
        if rng.random() < FILTERED_SHARE:
            spec["where"] = f"meta['label'] = '{label_name(c)}'"
        yield spec


def filter_label(spec: dict) -> int | None:
    """The label a query's ``where`` prefilter keeps, or None."""
    if not spec.get("where"):
        return None
    return int(spec["where"].rsplit("'L", 1)[1].rstrip("'"))


def oracle_topk(model: Model, version: Version, spec: dict) -> tuple[np.ndarray, np.ndarray]:
    """Brute-force top-k (ids, distances) over one version, ties by id —
    the order the engine's exact path promises."""
    q = np.asarray(spec["vector"], dtype=np.float64)
    mask = version.alive.copy()
    label = filter_label(spec)
    if label is not None:
        mask &= model.labels[: len(mask)] == label
    idx = np.flatnonzero(mask)
    d = distances(model.emb[idx], q)
    order = np.lexsort((model.ids[idx], d))[: spec["k"]]
    return model.ids[idx][order], d[order]


def distances(emb: np.ndarray, q: np.ndarray) -> np.ndarray:
    diff = emb.astype(np.float64) - q
    return np.sqrt((diff * diff).sum(axis=1))


class WriterScript:
    """The writer's seeded op sequence, applied to the model as it runs.

    Each op is (verb, engine argument, model update, the count the engine
    must report, user bytes the op adds or changes); the caller runs the
    verb and, on success, applies the update and commits the version the
    engine reports."""

    def __init__(self, model: Model, mix: Mixture, seed: int):
        self.model = model
        self.mix = mix
        self.rng = np.random.default_rng([seed, 3])
        self.next_id = int(model.ids.max()) + 1
        self.updates = 0

    def cycle(self):
        """The next cycle's ops. They are made lazily, so each one sees the
        model as the ops before it left it."""
        for verb in CYCLE:
            yield self._make(verb)

    def ops(self):
        """Whole cycles, one after another, without end."""
        while True:
            yield from self.cycle()

    def truncate(self):
        return self._make("TRUNCATEWAL")

    def _make(self, verb: str):
        m = self.model
        if verb == "INSERT":
            emb, labels = self.mix.draw(INSERT_ROWS, self.rng)
            ids = np.arange(self.next_id, self.next_id + INSERT_ROWS, dtype=np.int64)
            self.next_id += INSERT_ROWS
            payload = np.array(
                [f"doc {i} {label_name(l)}" for i, l in zip(ids, labels)], dtype=object
            )
            rows = [
                {"id": int(i), "embedding": [float(x) for x in e], "payload": p,
                 "meta": {"label": label_name(int(l))}}
                for i, e, l, p in zip(ids, emb, labels, payload)
            ]

            def apply():
                m.append(ids, emb, labels, payload)
            return verb, rows, apply, INSERT_ROWS, row_bytes(payload)
        if verb in ("DELETE", "UPDATE"):
            mod = int(self.rng.integers(150, 250))
            rem = int(self.rng.integers(0, mod))
            hit = m.alive & (m.ids % mod == rem)
            pred = f"id % {mod} = {rem}"
            changed = row_bytes(m.payload[hit])
            if verb == "DELETE":
                def apply():
                    m.alive &= ~hit
                    m.indexed = False
                return verb, {"where": pred}, apply, int(hit.sum()), changed
            self.updates += 1
            suffix = f" u{self.updates}"

            def apply():
                m.payload[hit] = m.payload[hit] + suffix
                m.indexed = False
            arg = {"where": pred, "set": {"payload": f"concat(payload, '{suffix}')"}}
            return verb, arg, apply, int(hit.sum()), changed
        return verb, None, (lambda: None), 0, 0
