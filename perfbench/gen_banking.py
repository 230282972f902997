"""Seeded banking-CSV feed: a base snapshot, then incremental windows.

The dirt mirrors tools/gen_banking_csv.py (2-digit-year and mixed-format
dates, currency-decorated amounts, null sentinels, mixed-case enums,
duplicate PKs within a file, quoted commas), but every value comes from
one ``random.Random(seed)`` and ids continue from where the previous
delivery stopped, so a sequence of windows can be replayed exactly.

Each delivery is one CSV file per entity, named ``{entity}_w{NNNN}.csv``
so that the pipeline's sorted glob visits files in delivery order.
"""

from __future__ import annotations

import csv
import random
from pathlib import Path

STATES = ["Maharashtra", "Delhi", "Punjab", "Karnataka", "Tamil Nadu",
          "West Bengal", "Bihar", "Gujarat", "Kerala", "Agra", "Bhopal"]
SENTINELS = ["NaN", "", "None", "N/A"]
# the pipeline's staging null normalization (functions.cleansing
# NULL_SENTINELS), restated so the spot check does not trust the code
# it checks
STAGING_NULLS = {"nan", "None", "NaT", "<NA>", "", "NaN", "NULL", "null", "N/A"}

HEADERS = {
    "branches": ["branch_id", "branch_name", "city", "state", "manager_name"],
    "customers": ["customer_id", "branch_id", "first_name", "last_name", "dob",
                  "gender", "email", "phone", "address", "account_open_date"],
    "loans": ["loan_id", "customer_id", "loan_type", "loan_amount",
              "interest_rate", "start_date", "end_date", "loan_status"],
    "transactions": ["transaction_id", "customer_id", "transaction_date",
                     "transaction_type", "amount", "balance_after", "fraud_flag"],
}
ENTITIES = list(HEADERS)
N_BRANCHES = 25
# rows per entity at scale 1.0: the reference dataset's 107k rows
BASE_ROWS = {"customers": 5022, "loans": 2006, "transactions": 100_004}
DUP_PK_FRAC = 0.01
BAD_PK_FRAC = 0.002  # transactions whose PK is a sentinel: dropped by staging


def _date(rng: random.Random) -> str:
    d, m, y = rng.randint(1, 31), rng.randint(1, 12), rng.randint(1960, 2024)
    style = rng.random()
    if style < 0.4:
        return f"{d:02d}-{m:02d}-{y % 100:02d}"
    if style < 0.7:
        return f"{d:02d}-{m:02d}-{y}"
    if style < 0.9:
        return f"{y}-{m:02d}-{d:02d}"
    return f"{d:02d}/{m:02d}/{y}"


def _amount(rng: random.Random, lo: float, hi: float) -> str:
    v = rng.uniform(lo, hi)
    style = rng.random()
    if style < 0.3:
        return f"₹{v:,.2f}"
    if style < 0.4:
        return f"$ {v:,.2f}"
    return f"{v:.2f}"


def _maybe(rng: random.Random, value: str, p_dirty: float = 0.03) -> str:
    return rng.choice(SENTINELS) if rng.random() < p_dirty else value


def staged_value(raw: str) -> str | None:
    """What the staging layer stores for a raw CSV field."""
    return None if raw.strip() in STAGING_NULLS else raw


class BankingFeed:
    """Writes deliveries into ``out_dir`` and remembers, per entity and
    PK, the last row delivered — the value last-writer-wins staging must
    hold."""

    def __init__(self, out_dir: str | Path, seed: int):
        self.out = Path(out_dir)
        self.out.mkdir(parents=True, exist_ok=True)
        self.rng = random.Random(seed)
        self.next_id = {e: 1 for e in BASE_ROWS}
        self.latest: dict[str, dict[str, list[str]]] = {e: {} for e in ENTITIES}
        self.redelivered: dict[str, set[str]] = {e: set() for e in ENTITIES}
        self.files: list[Path] = []

    # -- rows -----------------------------------------------------------------
    def _row(self, entity: str, pk: str) -> list[str]:
        rng = self.rng
        n_cust = max(1, self.next_id["customers"] - 1)
        if entity == "branches":
            i = int(pk[2:])
            return [pk, rng.choice([f"Branch {i}", f"Viswanathan, Singh and B{i} Branch"]),
                    f"city {i}", rng.choice(STATES), _maybe(rng, f"manager {i}", 0.05)]
        if entity == "customers":
            return [pk, _maybe(rng, f"QT{rng.randint(1, N_BRANCHES):04d}"),
                    f"first{pk}", f"last{pk}", _maybe(rng, _date(rng)),
                    rng.choice(["M", "F", "male", "Female", "f", "NaN", "x"]),
                    f"USER{pk}@Example.COM",
                    f"{rng.randint(6_000_000_000, 9_999_999_999)}",
                    f"{rng.randint(1, 99)}/{rng.randint(100, 999)}, "
                    f"Nagar-{rng.randint(100000, 999999)}",
                    _maybe(rng, _date(rng))]
        if entity == "loans":
            return [pk, str(rng.randint(1, n_cust)),
                    rng.choice(["Car", "Education", "home", "Personal"]),
                    _maybe(rng, _amount(rng, 10_000, 900_000)),
                    f"{rng.uniform(5, 14):.2f}", _maybe(rng, _date(rng)),
                    _maybe(rng, _date(rng)),
                    _maybe(rng, rng.choice(["Active", "Closed", "Default"]), 0.05)]
        return [pk, str(rng.randint(1, n_cust)), _date(rng),
                rng.choice(["deposit", "Withdrawal", "TRANSFER", "payment"]),
                _amount(rng, 10, 50_000), _amount(rng, 0, 200_000),
                rng.choice(["true", "1", "yes", "no", "0", "FALSE", ""])]

    def _write(self, entity: str, tag: str, pks: list[str]) -> tuple[int, int]:
        path = self.out / f"{entity}_{tag}.csv"
        rows = 0
        with open(path, "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(HEADERS[entity])
            for pk in pks:
                row = self._row(entity, pk)
                w.writerow(row)
                rows += 1
                if staged_value(pk) is not None:
                    self.latest[entity][pk] = row
        self.files.append(path)
        return rows, path.stat().st_size

    def _pks(self, entity: str, n_new: int, n_redeliver: int) -> list[str]:
        """``n_new`` monotone new ids (with in-file duplicate-PK dirt),
        ``n_redeliver`` existing ids re-sent with fresh values, and for
        transactions a few sentinel PKs."""
        rng = self.rng
        start = self.next_id[entity]
        pks = []
        for i in range(start, start + n_new):
            dup = i > start and rng.random() < DUP_PK_FRAC
            pks.append(str(i - 1 if dup else i))
        self.next_id[entity] = start + n_new
        if start > 1 and n_redeliver:
            old = rng.sample(range(1, start), min(n_redeliver, start - 1))
            self.redelivered[entity].update(str(i) for i in old)
            pks += [str(i) for i in old]
            rng.shuffle(pks)
        if entity == "transactions":
            pks += [rng.choice(SENTINELS) for _ in range(int(n_new * BAD_PK_FRAC))]
        return pks

    # -- deliveries -----------------------------------------------------------
    def snapshot(self, scale: float) -> None:
        """The base load: every entity, ids from 1."""
        self._write("branches", "w0000", [f"QT{i:04d}" for i in range(1, N_BRANCHES + 1)])
        for entity, n in BASE_ROWS.items():
            self._write(entity, "w0000", self._pks(entity, int(n * scale), 0))

    def window(self, index: int, sizes: dict[str, int], redeliver_frac: float) -> dict[str, int]:
        """One scheduler window: a file per entity in ``sizes``, each with
        ``sizes[entity]`` new ids plus ``redeliver_frac`` of that many
        re-delivered existing keys. Returns the rows and bytes delivered."""
        rows = bytes_ = 0
        for entity, n in sizes.items():
            r, b = self._write(entity, f"w{index:04d}",
                               self._pks(entity, n, round(n * redeliver_frac)))
            rows, bytes_ = rows + r, bytes_ + b
        return {"rows": rows, "bytes": bytes_}

    def redeliver_unchanged(self) -> Path:
        """Re-send one already-delivered file byte-for-byte (a new mtime,
        the same content): the ingest log must skip it."""
        path = self.rng.choice(self.files)
        path.write_bytes(path.read_bytes())
        return path
