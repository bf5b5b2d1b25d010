"""llm_curate: the LLM-data operators, which bypass every planning layer.

One client rotates through ``pipeline.curate``, ``dedup.minhash_dedup_pairs``
and ``similarity.semantic_dedup`` with ``bench.py``'s parameters, each
followed by a ``toArrow()`` action.  Inputs are seeded synthetic
``documents`` and ``embeddings`` tables shaped like the repository's
testdata (same columns, vocabulary-style text, 64-dim labelled embeddings) with
planted near-duplicates, read with ``io.read_table``.

Checks: every op's result must match the row count and order-insensitive
digest of the first run of that op for the seed (recorded next to the
inputs, so all runs of a seed agree), and independently:

* every MinHash pair's exact word-3-gram Jaccard, recomputed here, is at
  least the threshold and equals the reported value, and every planted
  near-duplicate pair is found;
* ``semantic_dedup`` returns one row per input vector;
* ``curate`` keeps a non-empty subset of the input documents.
"""

from __future__ import annotations

import hashlib
import json
import random
import re
from pathlib import Path

GEN_VERSION = 2
N_DOCS = 500
N_EMB = 240
DIM = 64
WORDS = (
    "a the spark line column order small sort fast value scan hash slow "
    "group batch agg filter query big key window row part table stream "
    "merge data vector join customer"
).split()
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")
MINHASH_THRESHOLD = 0.8


def _docs(rng: random.Random) -> tuple[list[dict], list[tuple[int, int]]]:
    """Documents and the planted near-duplicate pairs (lower id first)."""
    docs, planted = [], []
    for i in range(N_DOCS):
        if i > 10 and rng.random() < 0.05:
            src = rng.randrange(i)
            words = docs[src]["text"].split()
            if len(words) >= 60:
                # one substituted word keeps 3-gram Jaccard above 0.9
                j = rng.randrange(len(words))
                words[j] = rng.choice(WORDS)
                planted.append((src, i))
            text = " ".join(words)
        else:
            text = " ".join(
                rng.choice(WORDS) for _ in range(rng.randint(8, 95))
            )
        docs.append({
            "doc_id": i, "text": text, "lang": rng.choice(LANGS),
            "source": f"src{i % 20}", "n_chars": len(text),
        })
    return docs, planted


def _embeddings(rng: random.Random) -> list[dict]:
    centers = [[rng.gauss(0, 1) for _ in range(DIM)] for _ in range(10)]
    rows = []
    for i in range(N_EMB):
        if i > 10 and rng.random() < 0.05:
            base = rows[rng.randrange(i)]["embedding"]
            vec = [x + rng.gauss(0, 0.001) for x in base]
            label = rows[i - 1]["label"]
        else:
            label = rng.randrange(10)
            vec = [c + rng.gauss(0, 0.6) for c in centers[label]]
        rows.append({"vec_id": i, "embedding": vec, "label": label})
    return rows


def build_inputs(root: Path, seed: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    root.mkdir(parents=True, exist_ok=True)
    docs, planted = _docs(rng)
    pq.write_table(
        pa.Table.from_pylist(
            docs,
            schema=pa.schema([
                ("doc_id", pa.int64()), ("text", pa.string()),
                ("lang", pa.string()), ("source", pa.string()),
                ("n_chars", pa.int64()),
            ]),
        ),
        root / "documents.parquet",
    )
    pq.write_table(
        pa.Table.from_pylist(
            _embeddings(rng),
            schema=pa.schema([
                ("vec_id", pa.int64()),
                ("embedding", pa.list_(pa.float32())),
                ("label", pa.int32()),
            ]),
        ),
        root / "embeddings.parquet",
    )
    (root / "planted.json").write_text(json.dumps(planted))


def shingles(text: str, k: int = 3) -> set[str]:
    """Distinct word k-grams, as ``functions.text.shingles`` defines them."""
    toks = re.findall(r"[a-z0-9]+", text.lower())
    if len(toks) < k:
        return {" ".join(toks)} if toks else set()
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a: set[str], b: set[str]) -> float:
    return len(a & b) / len(a | b) if a | b else 0.0


def digest(rows: list[dict]) -> str:
    """Order-insensitive digest of result rows."""
    keys = sorted(json.dumps(r, sort_keys=True, default=str) for r in rows)
    return hashlib.sha256("\n".join(keys).encode()).hexdigest()


def check_minhash_pairs(
    rows: list[dict], texts: dict[int, str],
    planted: list[tuple[int, int]], threshold: float,
) -> str | None:
    found = set()
    for r in rows:
        a, b = r["id_a"], r["id_b"]
        j = jaccard(shingles(texts[a]), shingles(texts[b]))
        if j < threshold or abs(round(j, 6) - r["jaccard"]) > 1e-6:
            return f"pair ({a}, {b}) has Jaccard {j:.6f}, reported {r['jaccard']}"
        found.add((min(a, b), max(a, b)))
    missing = [p for p in planted if tuple(p) not in found]
    if missing:
        return f"planted near-duplicates not found: {missing[:5]}"
    return None


class Workload:
    clients = 1
    tail_q = 0.5
    final_checks = 0

    def __init__(self, work: Path, seed: int) -> None:
        self.root = work / "llm_curate" / f"seed{seed}_v{GEN_VERSION}"
        self.seed = seed

    def prepare(self) -> None:
        if not (self.root / "planted.json").exists():
            build_inputs(self.root, self.seed)
        self.planted = [tuple(p) for p in json.loads(
            (self.root / "planted.json").read_text())]
        import pyarrow.parquet as pq

        docs = pq.read_table(self.root / "documents.parquet")
        self.texts = dict(zip(docs["doc_id"].to_pylist(),
                              docs["text"].to_pylist()))
        self.expected_path = self.root / "expected.json"
        self.expected = (
            json.loads(self.expected_path.read_text())
            if self.expected_path.exists() else {}
        )
        self._recorded = dict(self.expected)

    def setup(self, spark) -> None:
        import harness

        self.spark = spark
        # no catalog: the seams exist so every workload reports the same
        # counters (all zero here)
        self.store = harness.CountingStore(None)
        self.fs = harness.CountingFileSystem()
        # warm-up: one op per operator
        for op in self._rotation():
            err = op.check(op.action(op.call()))
            if err is not None:
                raise RuntimeError(f"warm-up op failed its check: {err}")

    def _rotation(self):
        from glue_table_cache_spark.io import read_table
        from glue_table_cache_spark.operators import dedup as D
        from glue_table_cache_spark.operators import pipeline as PL
        from glue_table_cache_spark.operators import similarity as S

        import harness

        sf = str(self.root)
        spark = self.spark

        def curate():
            cfg = PL.CurationConfig(
                min_quality=0.3, dedup_threshold=0.8,
                sample_fraction=0.5, pack_budget=2048,
            )
            return PL.curate(read_table(spark, sf, "documents"), cfg)

        def minhash():
            return D.minhash_dedup_pairs(
                read_table(spark, sf, "documents"),
                threshold=MINHASH_THRESHOLD,
            )

        def semantic():
            return S.semantic_dedup(
                read_table(spark, sf, "embeddings").select(
                    "vec_id", "embedding"),
                nlist=16, threshold=0.3,
            )

        def checker(name, extra):
            def check(tbl):
                rows = tbl.to_pylist()
                got = {"rows": len(rows), "digest": digest(rows)}
                err = extra(rows)
                if err is not None:
                    return err
                want = self._recorded.setdefault(name, got)
                if got != want:
                    return f"{name}: expected {want}, got {got}"
                return None
            return check

        def curate_rows(rows):
            ids = {r["doc_id"] for r in rows}
            if not ids or not ids <= set(self.texts):
                return f"curate kept {len(ids)} ids, not a subset of the input"
            return None

        def semantic_rows(rows):
            if sorted(r["vec_id"] for r in rows) != list(range(N_EMB)):
                return "semantic_dedup did not return one row per vector"
            return None

        specs = (
            ("curate", curate, curate_rows),
            ("minhash_dedup", minhash,
             lambda rows: check_minhash_pairs(
                 rows, self.texts, self.planted, MINHASH_THRESHOLD)),
            ("semantic_dedup", semantic, semantic_rows),
        )
        return [
            harness.Op(
                kind=name, label=name, call=fn,
                action=lambda df: df.toArrow(),
                check=checker(name, extra),
            )
            for name, fn, extra in specs
        ]

    def streams(self):
        def stream():
            rng = random.Random(self.seed)
            while True:
                ops = self._rotation()
                rng.shuffle(ops)
                yield ops

        return [stream()]

    def before_op(self, op) -> None:
        pass

    def after_op(self, op, rec) -> None:
        pass

    def finish(self, spark, records, wall):
        if self._recorded != self.expected:
            self.expected_path.write_text(json.dumps(self._recorded))
        ok = [r for r in records if r.error is None]
        inputs = {"semantic_dedup": N_EMB}
        extra = {
            "rows_per_s": sum(inputs.get(r.kind, N_DOCS) for r in ok) / wall,
            "operators.call_s": sum(r.call_end - r.start for r in ok)
            / max(1, len(ok)),
            "operators.action_s": sum(r.end - r.call_end for r in ok)
            / max(1, len(ok)),
        }
        for name in ("curate", "minhash_dedup", "semantic_dedup"):
            mine = [r for r in ok if r.kind == name]
            n = max(1, len(mine))
            extra[f"operators.{name}.call_s"] = sum(
                r.call_end - r.start for r in mine) / n
            extra[f"operators.{name}.action_s"] = sum(
                r.end - r.call_end for r in mine) / n
            extra[f"operators.{name}.executor_cpu_s"] = sum(
                r.exec.get("executor_cpu_s", 0) for r in mine) / n
        return [], extra
