"""Deterministic, seeded input generator for the benchmark workloads.

Everything here is plain Python plus pyarrow: no Spark job runs while inputs
are made, so input generation never borrows the engine it is about to time.
The same seed gives byte-identical files (``random.Random`` draws, fixed
pyarrow writer settings).

Each generated file carries its *truth*: the row count, the per-column null
count and the set of ``location`` values a correct transform must produce.
The truth is worked out here from the generator's own draws, never by
reading the program's output, so the checkers in ``check.py`` compare the
program against an independent answer.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

#: The eight CSV tokens a hub submission may use for "missing"; every one of
#: them must come out of the transform as NULL (FIXTURES F1/F2).
NULL_TOKENS = ("na", "NA", "", " ", "null", "Null", "NaN", "nan")

#: FIXTURES F6: the schema every transformed output must have.
GOLDEN_SCHEMA = pa.schema(
    [
        ("reference_date", pa.date32()),
        ("target", pa.string()),
        ("horizon", pa.int64()),
        ("target_end_date", pa.date32()),
        ("location", pa.string()),
        ("output_type", pa.string()),
        ("output_type_id", pa.string()),
        ("value", pa.float64()),
        ("round_id", pa.string()),
        ("model_id", pa.string()),
    ]
)
DATA_COLUMNS = GOLDEN_SCHEMA.names[:-2]

# The task-id domains follow the CDC FluSight forecast hub's published
# tasks.json (2023-24 season; cited, not downloaded): 53 jurisdictions,
# 23 quantile levels, horizons 0-3, two targets.
ROUNDS = ["2024-11-02", "2024-11-09", "2024-11-16", "2024-11-23", "2024-11-30"]
TARGETS = ["wk inc flu hosp", "wk flu hosp rate change"]
HORIZONS = [0, 1, 2, 3]
#: the 50 states, DC and Puerto Rico as 2-digit FIPS codes, plus the nation;
#: leading-zero codes must keep their zero through the CSV path
LOCATIONS = [
    "01", "02", "04", "05", "06", "08", "09", "10", "11", "12", "13", "15", "16", "17", "18", "19", "20",
    "21", "22", "23", "24", "25", "26", "27", "28", "29", "30", "31", "32", "33", "34", "35", "36", "37",
    "38", "39", "40", "41", "42", "44", "45", "46", "47", "48", "49", "50", "51", "53", "54", "55", "56",
    "72", "US",
]
QUANTILES = ["0.01", "0.025", "0.05"] + [f"{q / 100:g}" for q in range(10, 91, 5)] + ["0.95", "0.975", "0.99"]
#: rows of one full round submission: every location, horizon and quantile
FULL_SUBMISSION_ROWS = len(LOCATIONS) * len(HORIZONS) * len(QUANTILES)
#: share of rows with a null in each nullable column
NULL_SHARE = 0.05

#: FIXTURES F5: a hub config whose compiled read schema is the F6 schema.
TASKS = {
    "schema_version": "https://raw.githubusercontent.com/hubverse-org/schemas/main/v5.0.0/tasks-schema.json",
    "rounds": [
        {
            "round_id_from_variable": True,
            "round_id": "reference_date",
            "model_tasks": [
                {
                    "task_ids": {
                        "reference_date": {"required": None, "optional": ROUNDS},
                        "target": {"required": None, "optional": TARGETS},
                        "horizon": {"required": None, "optional": HORIZONS},
                        "target_end_date": {"required": None, "optional": ROUNDS},
                        "location": {"required": None, "optional": LOCATIONS},
                    },
                    "output_type": {
                        "quantile": {
                            "output_type_id": {"required": [float(q) for q in QUANTILES]},
                            "value": {"type": "double", "minimum": 0},
                        }
                    },
                },
                {
                    "task_ids": {
                        "reference_date": {"required": None, "optional": ROUNDS},
                        "target": {"required": None, "optional": TARGETS},
                        "horizon": {"required": None, "optional": HORIZONS},
                        "target_end_date": {"required": None, "optional": ROUNDS},
                        "location": {"required": None, "optional": LOCATIONS},
                    },
                    "output_type": {
                        "pmf": {
                            "output_type_id": {"required": ["large", "small"]},
                            "value": {"type": "double"},
                        }
                    },
                },
            ],
        }
    ],
    "output_type_id_datatype": "auto",
    "derived_task_ids": None,
}


@dataclass
class Submission:
    """One model-output file and what a correct transform makes of it."""

    name: str  # file name under raw/, with extension
    data: bytes
    rows: int = 0
    nulls: dict[str, int] = field(default_factory=dict)
    locations: frozenset[str] = frozenset()
    round_id: str = ""
    model_id: str = ""

    @property
    def stem(self) -> str:
        return self.name.rsplit(".", 1)[0]


def write_hub(hub: str) -> None:
    """Create ``hub/hub-config/tasks.json`` and an empty ``hub/raw``."""
    os.makedirs(os.path.join(hub, "hub-config"), exist_ok=True)
    os.makedirs(os.path.join(hub, "raw"), exist_ok=True)
    with open(os.path.join(hub, "hub-config", "tasks.json"), "w", encoding="utf-8") as f:
        json.dump(TASKS, f, sort_keys=True)


def _columns(rng: random.Random, round_id: str, n: int) -> dict[str, list]:
    """``n`` clean quantile rows for one round, column by column."""
    ref = dt.date.fromisoformat(round_id)
    horizon = rng.choices(HORIZONS, k=n)
    ends = {h: ref + dt.timedelta(days=7 * (h + 1)) for h in HORIZONS}
    return {
        "reference_date": [ref] * n,
        "target": rng.choices(TARGETS, k=n),
        "horizon": horizon,
        "target_end_date": [ends[h] for h in horizon],
        "location": rng.choices(LOCATIONS, k=n),
        "output_type": ["quantile"] * n,
        "output_type_id": rng.choices(QUANTILES, k=n),
        "value": [round(rng.random() * 5000.0, 4) for _ in range(n)],
    }


def _coin_flips(rng: random.Random, n: int) -> str:
    """``n`` fair coin flips as a string of '0'/'1'."""
    return format(rng.getrandbits(n), f"0{n}b") if n else ""


def csv_submission(
    rng: random.Random, round_id: str, model_id: str, n: int, *, provenance: bool = False
) -> Submission:
    """A CSV submission with FIXTURES F1/F3 quirks.

    Null tokens land in ``location``, ``output_type_id``, ``value`` and
    ``horizon`` (quoted or not; the blank-ish tokens always quoted so a CSV
    parser cannot drop them), string cells (leading-zero locations among
    them) are quoted on some rows and bare on others, and
    ``provenance=True`` appends stale ``round_id`` / ``model_id`` columns
    the transform must overwrite in place.
    """
    cols = _columns(rng, round_id, n)
    nulls = dict.fromkeys(GOLDEN_SCHEMA.names, 0)
    cells: dict[str, list[str]] = {}
    for c in DATA_COLUMNS:
        vals = cols[c]
        text = [v.isoformat() for v in vals] if isinstance(vals[0], dt.date) else [str(v) for v in vals]
        if isinstance(vals[0], str):
            flips = _coin_flips(rng, n)
            text = [f'"{t}"' if f == "1" else t for t, f in zip(text, flips)]
        if c in ("location", "output_type_id", "value", "horizon"):
            holes = sorted(rng.sample(range(n), max(1, int(n * NULL_SHARE))))
            nulls[c] = len(holes)
            for i in holes:
                tok = rng.choice(NULL_TOKENS)
                text[i] = f'"{tok}"' if tok.strip() == "" or rng.random() < 0.5 else tok
                vals[i] = None
        cells[c] = text
    header = list(DATA_COLUMNS)
    if provenance:
        header += ["round_id", "model_id"]
        cells["round_id"] = ["1999-01-01"] * n
        cells["model_id"] = ['"stale-model"'] * n
    lines = [",".join(f'"{c}"' for c in header)]
    lines += [",".join(row) for row in zip(*(cells[c] for c in header))]
    return Submission(
        name=f"{round_id}-{model_id}.csv", data=("\n".join(lines) + "\n").encode(), rows=n,
        nulls=nulls, locations=frozenset(v for v in cols["location"] if v is not None),
        round_id=round_id, model_id=model_id,
    )


def parquet_submission(
    rng: random.Random, round_id: str, model_id: str, n: int, *, ext: str = "parquet"
) -> Submission:
    """A Parquet submission with FIXTURES F4 quirks.

    ``location`` is int64 and ``output_type_id`` double, so the transform
    must cast them (2 -> "2", 0.5 -> "0.5"); ``target`` carries empty
    strings, which Parquet keeps as values (no null-token normalisation);
    true nulls sit in ``value`` and ``output_type_id``.
    """
    cols = _columns(rng, round_id, n)
    cols["location"] = [0 if v == "US" else int(v) for v in cols["location"]]
    cols["output_type_id"] = [float(v) for v in cols["output_type_id"]]
    for i in rng.sample(range(n), n // 10):
        cols["target"][i] = ""
    nulls = dict.fromkeys(GOLDEN_SCHEMA.names, 0)
    for c in ("value", "output_type_id"):
        holes = rng.sample(range(n), max(1, int(n * NULL_SHARE)))
        nulls[c] = len(holes)
        for i in holes:
            cols[c][i] = None
    types = {f.name: f.type for f in GOLDEN_SCHEMA}
    types.update(location=pa.int64(), output_type_id=pa.float64())
    table = pa.table({c: pa.array(cols[c], types[c]) for c in DATA_COLUMNS})
    sink = pa.BufferOutputStream()
    pq.write_table(table, sink, compression="snappy")
    return Submission(
        name=f"{round_id}-{model_id}.{ext}", data=sink.getvalue().to_pybytes(), rows=n,
        nulls=nulls, locations=frozenset(str(v) for v in cols["location"]),
        round_id=round_id, model_id=model_id,
    )


def unsupported_submission(rng: random.Random, round_id: str, model_id: str) -> Submission:
    """A file the hub must refuse (FIXTURES F7: ``.txt`` -> UserWarning)."""
    body = "".join(rng.choice("abcdefgh ") for _ in range(64)).encode()
    return Submission(name=f"{round_id}-{model_id}.txt", data=body)


@dataclass
class Event:
    """One object event of the ``events`` workload."""

    kind: str  # create | reupload | delete | unsupported
    sub: Submission


#: one block of the event mix; the seed shuffles each block. The mix is an
#: assumption: the reference publishes no traffic figures (SURVEY.md §6).
EVENT_BLOCK = ("create",) * 5 + ("reupload",) * 2 + ("delete",) * 2 + ("unsupported",)
#: submission kinds: CSV, CSV with stale provenance columns, Parquet, .pqt
CSV, CSV_PROVENANCE, PARQUET, PQT = range(4)
#: the creates of one block as (kind, rows). Sizes span SURVEY.md §6's
#: per-file envelope from its small end, the reference's 23-row fixture, to
#: a full round submission; files larger than that are the backfill's.
BLOCK_CREATES = (
    (CSV, 23),
    (CSV, FULL_SUBMISSION_ROWS),
    (CSV_PROVENANCE, FULL_SUBMISSION_ROWS // 4),
    (PARQUET, FULL_SUBMISSION_ROWS),
    (PQT, FULL_SUBMISSION_ROWS // 4),
)
#: a re-upload is a corrected full submission of a live file of the family
REUPLOAD_FAMILIES = ((CSV, CSV_PROVENANCE), (PARQUET, PQT))


def _new_submission(rng: random.Random, round_id: str, model_id: str, kind: int, n: int) -> Submission:
    if kind in (CSV, CSV_PROVENANCE):
        return csv_submission(rng, round_id, model_id, n, provenance=kind == CSV_PROVENANCE)
    return parquet_submission(rng, round_id, model_id, n, ext="parquet" if kind == PARQUET else "pqt")


def event_schedule(seed: int, n_blocks: int) -> list[Event]:
    """A seeded closed-loop event stream: creates (CSV, CSV with stale
    provenance columns, Parquet, .pqt), re-uploads that overwrite a live
    output with new content, deletes of live outputs, and unsupported files.

    Every block holds the same mix, down to the formats and sizes created
    and re-uploaded (one CSV-family and one Parquet-family re-upload when
    such a file is live), so seeds differ in order, names and values, not in
    how much work a block is. Re-uploads and deletes always target a file
    whose output exists at that point, so every event has one correct
    outcome.
    """
    rng = random.Random(seed)
    live: dict[str, tuple[Submission, int]] = {}
    events: list[Event] = []
    serial = 0
    for _ in range(n_blocks):
        kinds = list(EVENT_BLOCK)
        rng.shuffle(kinds)
        creates = list(BLOCK_CREATES)
        rng.shuffle(creates)
        families = list(REUPLOAD_FAMILIES)
        for i, kind in enumerate(kinds):
            if kind in ("reupload", "delete") and not live:
                j = kinds.index("create", i)
                kinds[i], kinds[j] = kinds[j], kinds[i]
                kind = kinds[i]
            serial += 1
            round_id = rng.choice(ROUNDS)
            if kind == "create":
                fmt, n = creates.pop()
                sub = _new_submission(rng, round_id, f"team{serial:03d}-model", fmt, n)
                live[sub.name] = (sub, fmt)
            elif kind == "reupload":
                family = families.pop(0)
                pick = sorted(n for n, (_, f) in live.items() if f in family) or sorted(live)
                old, fmt = live[rng.choice(pick)]
                sub = _new_submission(rng, old.round_id, old.model_id, fmt, FULL_SUBMISSION_ROWS)
                live[sub.name] = (sub, fmt)
            elif kind == "delete":
                sub, _ = live.pop(rng.choice(sorted(live)))
            else:
                sub = unsupported_submission(rng, round_id, f"team{serial:03d}-model")
            events.append(Event(kind, sub))
    return events


#: rows per file of the backfill hub: mostly full round submissions, with
#: the 23-row fixture size at the small end and a 50,000-row file toward the
#: large end of SURVEY.md §6's envelope ("a few hundred thousand rows"). The
#: middle files share one size, so the median per-file latency is the
#: latency of one kind of file.
BACKFILL_ROWS = (23, FULL_SUBMISSION_ROWS // 4) + (FULL_SUBMISSION_ROWS,) * 3 + (50_000,)


def backfill_submissions(seed: int, sizes: tuple[int, ...] = BACKFILL_ROWS) -> list[Submission]:
    """A CSV hub history for the bulk path: one header layout, many models,
    null tokens and quoting quirks throughout."""
    rng = random.Random(seed)
    return [
        csv_submission(rng, rng.choice(ROUNDS), f"team{i:03d}-model", n)
        for i, n in enumerate(sizes)
    ]


def digest(subs: list[Submission]) -> str:
    """A fingerprint of every generated byte, to prove determinism."""
    h = hashlib.sha256()
    for s in subs:
        h.update(s.name.encode())
        h.update(s.data)
    return h.hexdigest()
