"""Deterministic synthetic transcript corpus with labeled duplicate
clusters (FIXTURES.md §1-2).

Schema matches the graft input hint exactly:
``conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp``. Texts are random printable ASCII (bytes 33-126 — the
reference bench alphabet, /root/reference/benches/rand_benchmarks.rs:
240-248). Each entity seeds one conversation; near-duplicates apply the
reference's mutation model (per-edit choice of substitute / insert /
delete, rand_benchmarks.rs:207-238) with a bounded edit budget, so a
duplicate is within a known edit distance of its seed.

Everything is seeded NumPy — same seed, same corpus, any machine.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

ROLES = ["user", "assistant", "tool"]
TOOLS = ["search", "exec", "browse", "none", None]
BASE_TS = np.datetime64("2025-01-01T00:00:00")


def _rand_text(rng: np.random.Generator, length: int) -> str:
    return rng.integers(33, 127, length, dtype=np.uint8).tobytes().decode("ascii")


def _mutate(rng: np.random.Generator, text: str, max_edits: int) -> str:
    b = bytearray(text.encode("ascii"))
    n_edits = int(rng.integers(1, max_edits + 1)) if max_edits >= 1 else 0
    for _ in range(n_edits):
        op = int(rng.integers(0, 3))
        if not b:
            op = 1
        pos = int(rng.integers(0, len(b))) if b else 0
        if op == 0:  # substitute
            b[pos] = int(rng.integers(33, 127))
        elif op == 1:  # insert
            b.insert(pos, int(rng.integers(33, 127)))
        else:  # delete
            del b[pos]
    return b.decode("ascii")


def generate_transcripts(
    n_entities: int = 300,
    seed: int = 42,
    min_turns: int = 2,
    max_turns: int = 8,
    min_text: int = 30,
    max_text: int = 160,
    dup_probs: tuple[float, ...] = (0.55, 0.25, 0.13, 0.07),
    edit_budget_frac: float = 0.05,
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Return ``(transcripts, truth_pairs)`` pandas frames.

    ``dup_probs[i]`` is the probability an entity has ``i+1``
    conversations (cluster size). ``truth_pairs`` lists every positive
    pair ``(conv_id_a < conv_id_b, entity_id)``.
    """
    rng = np.random.default_rng(seed)
    sizes = rng.choice(np.arange(1, len(dup_probs) + 1), size=n_entities, p=dup_probs)

    convs: list[tuple[int, list[str]]] = []  # (entity, per-turn texts)
    for ent in range(n_entities):
        n_turns = int(rng.integers(min_turns, max_turns + 1))
        base = [
            _rand_text(rng, int(rng.integers(min_text, max_text + 1)))
            for _ in range(n_turns)
        ]
        convs.append((ent, base))
        total_len = sum(len(t) for t in base)
        budget = max(2, int(total_len * edit_budget_frac))
        for _ in range(int(sizes[ent]) - 1):
            # spread the edit budget over the turns
            dup = []
            for t in base:
                per_turn = max(1, budget * len(t) // max(total_len, 1))
                dup.append(_mutate(rng, t, per_turn))
            convs.append((ent, dup))

    # shuffle conversation order so cluster members get scattered ids
    order = rng.permutation(len(convs))
    rows = []
    ent_to_ids: dict[int, list[str]] = {}
    for new_idx, old_idx in enumerate(order):
        ent, turns = convs[old_idx]
        cid = f"c{new_idx:08d}"
        ent_to_ids.setdefault(ent, []).append(cid)
        for ti, text in enumerate(turns):
            rows.append(
                (
                    cid,
                    ti,
                    ROLES[ti % 3],
                    text,
                    TOOLS[(new_idx + ti) % len(TOOLS)],
                    BASE_TS + np.timedelta64(new_idx * 3600 + ti * 7, "s"),
                )
            )
    transcripts = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )

    pair_rows = []
    for ent, ids in ent_to_ids.items():
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                pair_rows.append((ids[i], ids[j], ent))
    truth = pd.DataFrame(pair_rows, columns=["id_a", "id_b", "entity"])
    return transcripts, truth


def load_transcripts(
    spark,
    source: str,
    source_format: str = "parquet",
    options: dict | None = None,
):
    """Load the transcript input table through a pluggable source seam.

    ``source_format``:

    * ``"parquet"`` (default) / any path-based DataSource name —
      ``spark.read.format(fmt).options(...).load(source)``.
    * ``"table"`` or ``"iceberg"`` — ``source`` is a CATALOG TABLE
      identifier resolved via ``spark.table`` (bucketed managed tables
      here; Iceberg tables on a real cluster). Iceberg needs only
      session config, no code change:
      ``spark.sql.catalog.<cat>=org.apache.iceberg.spark.SparkCatalog``
      + ``spark.sql.catalog.<cat>.type=hive|hadoop|rest`` and the
      iceberg-spark-runtime jar on the classpath; time travel etc. pass
      through ``options`` (e.g. ``snapshot-id``) via
      ``spark.read.options(...).table(source)``.

    Reading through the catalog (rather than raw files) preserves
    bucketing metadata (`sources.bucketed`) and, for Iceberg,
    partition/sort specs — which is what keeps the downstream joins
    co-located at 10^12-turn scale.
    """
    if source_format in ("table", "iceberg"):
        reader = spark.read
        for k, v in (options or {}).items():
            reader = reader.option(k, v)
        return reader.table(source)
    reader = spark.read.format(source_format)
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    return reader.load(source)
