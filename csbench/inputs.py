"""Seeded benchmark inputs: corpus files, query pool, expected answers.

Everything here is a pure function of the seed and the sizes in
``Sizes``.  The corpus and the oracle's expected answers are cached
under the cache directory, keyed by the seed, the sizes and a hash of
the generator, analyzer and oracle sources, so a changed oracle never
reads a stale answer.  The engine only ever sees the parquet files.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import asdict, dataclass

import numpy as np

from auctus_spark import TOP_K_SIZE
from auctus_spark.oracle import OracleIndex

CLASSES = ("hot", "rare", "mixed", "miss")


@dataclass(frozen=True)
class Sizes:
    base_docs: int = 4096        # corpus files of the base corpus
    append_docs: int = 256       # files appended by the maintenance cycle
    deletes: int = 32            # docs deleted by the maintenance cycle
    per_class: int = 16          # pool queries per class
    vocab_size: int = 20_000
    doc_bucket: int = 512        # 8 docID buckets: 2 per core at local[4]
    term_buckets: int = 16
    files: int = 8               # parquet files per corpus, docID-contiguous


# Per workload (README, "Inputs"): single queries pay a fixed cost per
# query that a bigger index hardly changes, while a build's per-file work
# only outweighs its per-job cost from about 16k files on.
SIZES = {
    "search": Sizes(),
    "ingest": Sizes(base_docs=16384, append_docs=1024, deletes=100,
                    doc_bucket=2048),
}


def _source_hash() -> str:
    import auctus_spark.analysis
    import auctus_spark.corpus
    import auctus_spark.oracle
    h = hashlib.sha256()
    for path in (auctus_spark.corpus.__file__, auctus_spark.analysis.__file__,
                 auctus_spark.oracle.__file__, __file__):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def query_pool(seed: int, sizes: Sizes) -> dict[str, list[str]]:
    """``per_class`` queries of each class, deterministic in the seed.

    - hot: three of the four hottest keywords (the longest posting
      lists), so hot queries cost about the same whatever the seed;
    - rare: one ``uniq_token_<d>`` with df=1 (d % 11 == 0, and neither
      copied from nor copied into another document);
    - mixed: one of the four hottest keywords and one rare token
      (rarest-first skipping);
    - miss: a term no document holds (every corpus word starts with a
      hot keyword, an identifier part or ``uniq``; these start ``zq``).
    """
    from auctus_spark.corpus import HOT_KEYWORDS
    hottest = HOT_KEYWORDS[:4]
    rng = np.random.Generator(np.random.PCG64(seed))
    # doc d % 97 == 1 carries doc d-1's content instead of its own
    rare_ids = [d for d in range(0, sizes.base_docs, 11) if d % 97 > 1]
    picks = rng.choice(len(rare_ids), size=2 * sizes.per_class,
                       replace=False)
    rare = [f"uniq_token_{rare_ids[i]}" for i in picks]
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    pool: dict[str, list[str]] = {c: [] for c in CLASSES}
    for i in range(sizes.per_class):
        hot = rng.choice(len(hottest), size=3, replace=False)
        pool["hot"].append(" ".join(hottest[j] for j in hot))
        pool["rare"].append(rare[i])
        kw = hottest[int(rng.integers(len(hottest)))]
        pool["mixed"].append(f"{kw} {rare[sizes.per_class + i]}")
        pool["miss"].append(
            "zq" + "".join(rng.choice(letters, size=6)))
    return pool


def group(pool: dict[str, list[str]], g: int) -> list[tuple[str, str]]:
    """Timed group ``g``: one query of every class, in class order."""
    return [(c, pool[c][g % len(pool[c])]) for c in CLASSES]


def batch(pool: dict[str, list[str]]) -> dict[str, str]:
    """One ``search_many`` batch: the whole pool, keyed ``<class>.<i>``."""
    return {f"{c}.{i}": q for c in CLASSES for i, q in enumerate(pool[c])}


class Inputs:
    """Cached corpus files and expected answers for one seed."""

    def __init__(self, cache_dir: str, seed: int, sizes: Sizes):
        self.seed, self.sizes = seed, sizes
        key = hashlib.sha256(json.dumps(
            [seed, asdict(sizes), _source_hash()]).encode()).hexdigest()[:16]
        self.dir = os.path.join(cache_dir, f"inputs-{seed}-{key}")
        self.base_dir = os.path.join(self.dir, "base")
        self.append_dir = os.path.join(self.dir, "append")
        self.pool = query_pool(seed, sizes)
        self._answers: dict[str, dict] = {}

    def prepare(self, maintenance: bool = False) -> None:
        """Generate the base corpus and its expected answers, and with
        ``maintenance`` also the appended files and the answers after
        append, delete and compact, unless they are cached.  Each part
        is written to a temp dir and renamed last, so a killed run
        leaves no half cache."""
        s = self.sizes
        if not os.path.exists(self.base_dir):
            pdf = self._write(self.base_dir, 0, s.base_docs)
            base_o = OracleIndex.build(_docs(pdf))
            queries = [q for c in CLASSES for q in self.pool[c]]
            answers = {q: base_o.search(q) for q in queries}
            for c in ("hot", "rare"):
                if any(not answers[q] for q in self.pool[c]):
                    raise ValueError(f"seed {self.seed}: a {c} query has "
                                     "no hits on the base corpus")
            if any(answers[q] for q in self.pool["miss"]):
                raise ValueError(f"seed {self.seed}: a miss query has hits")
            _atomic_json(os.path.join(self.dir, "base.json"), answers)
            os.rename(self.base_dir + ".tmp", self.base_dir)
        if maintenance and not os.path.exists(self.append_dir):
            base = _read(self.base_dir)
            app = self._write(self.append_dir, s.base_docs, s.append_docs)
            _atomic_json(os.path.join(self.dir, "maintenance.json"),
                         self._maintenance_answers(base, app))
            os.rename(self.append_dir + ".tmp", self.append_dir)

    def _write(self, out: str, start: int, n: int):
        """Generate ``n`` docs from ``start`` into ``out + ".tmp"`` as
        docID-contiguous, docID-sorted parquet files."""
        import shutil

        import pyarrow as pa
        import pyarrow.parquet as pq

        from auctus_spark.corpus import generate_corpus
        pdf = generate_corpus(n, seed=self.seed,
                              vocab_size=self.sizes.vocab_size,
                              start_doc_id=start)
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        bounds = np.linspace(0, n, self.sizes.files + 1).astype(int)
        for i, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
            pq.write_table(
                pa.Table.from_pandas(pdf.iloc[lo:hi], preserve_index=False),
                os.path.join(tmp, f"part-{i:03d}.parquet"))
        return pdf

    def _maintenance_answers(self, base, app) -> dict:
        """Expected top-50 answers of the maintenance probes:

        - ``masked``: on base+append with the seeded deletes tombstoned
          (deleted docs still count in N, df and avgdl);
        - ``live``: on the live docs only, which is what ``compact``
          must leave.
        """
        deleted = self.deleted_ids()
        dead = set(deleted)
        all_docs = _docs(base) + _docs(app)
        full_o = OracleIndex.build(all_docs)
        live_o = OracleIndex.build([d for d in all_docs if d[0] not in dead])
        probes = [q for _, q in self.probes()]
        return {
            "deleted": deleted,
            "masked": {q: [h for h in full_o.search(q, k=TOP_K_SIZE + len(dead))
                           if h[0] not in dead][:TOP_K_SIZE] for q in probes},
            "live": {q: live_o.search(q) for q in probes},
        }

    def deleted_ids(self) -> list[int]:
        """Seeded deletes: the top hit of every hot query (so masking
        changes answers) plus random base docs, ``deletes`` in all."""
        rng = np.random.Generator(np.random.PCG64(self.seed + 1))
        dead = {self.answers("base")[q][0][0] for q in self.pool["hot"]}
        while len(dead) < self.sizes.deletes:
            dead.add(int(rng.integers(self.sizes.base_docs)))
        return sorted(dead)

    def probes(self) -> list[tuple[str, str]]:
        """Maintenance-cycle probes as (class, query): the first query of
        every class and a rare token held only by an appended doc."""
        first = self.sizes.base_docs + (-self.sizes.base_docs) % 11
        return ([(c, self.pool[c][0]) for c in CLASSES]
                + [("rare", f"uniq_token_{first}")])

    def answers(self, part: str) -> dict:
        """``base`` or ``maintenance`` expected answers (JSON floats
        round-trip exactly, so comparisons stay bit-exact)."""
        if part not in self._answers:
            with open(os.path.join(self.dir, f"{part}.json")) as f:
                self._answers[part] = json.load(f)
        return self._answers[part]

    def base_files(self) -> list[str]:
        """The base corpus's parquet files in docID order."""
        return sorted(os.path.join(self.base_dir, f)
                      for f in os.listdir(self.base_dir)
                      if f.endswith(".parquet"))

    def corpus_bytes(self) -> int:
        return dir_bytes(self.base_dir)


def _docs(pdf) -> list[tuple[int, str]]:
    return list(zip(pdf.doc_id.tolist(), pdf.content.tolist()))


def _read(path: str):
    import pyarrow.parquet as pq
    return pq.read_table(path).to_pandas().sort_values("doc_id")


def _atomic_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(obj, f)
    os.rename(path + ".tmp", path)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total
