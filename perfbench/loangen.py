"""Seeded generator for the loan ETL's dirty CSV inputs (FIXTURES.md §A1/A2).

One *block* is the reference's shape: 200 application lines and 177 LMS
update lines. ``scale`` blocks are written back to back, each with its own
id range, so every per-block dirty class scales linearly. Two dirty classes
exist once per file, in block 0 only:

- the over-wide application row (FIXTURES constraint 3: at most one, one
  field over, early enough for DuckDB's sniffer to see the 13th column);
- the NULL ``application_id`` (constraint 6). A second NULL id would make
  NULL itself a duplicate key and turn every non-duplicate flag NULL.

At ``scale=1`` the quality report hits FIXTURES.md's anchors: dup=2,
non-positive=1, credit-missing=8, out-of-range=2, postal=3, type=1,
size-invalid=3, size-for-heat-pump=11, quarantined=1.

The other constraints: each dirty email has exactly one whitespace run (1);
missing numerics/dates use the literal ``NULL`` as well as empty fields (2);
dates are plain ISO with no time zone (4); money is whole euros or cents
(5), so sums of amounts are exact in double arithmetic on both engines.
"""

from __future__ import annotations

import datetime as dt
import os
import random

APP_HEADER = (
    "application_id,customer_email,installer_partner_id,installation_type,"
    "system_size_kwp,loan_amount_eur,loan_term_months,application_date,"
    "credit_score,annual_income_eur,postal_code,status"
)
LMS_HEADER = (
    "loan_id,application_id,disbursement_date,current_balance_eur,"
    "days_past_due,payment_status,last_payment_date,next_payment_due"
)

APPS_PER_BLOCK = 200
LMS_PER_BLOCK = 177

# Row positions inside a block (0-based) of each application dirty class.
_DUP_ROW = 11  # repeats the id of row 10
_WIDE_ROW = 29  # block 0 only
_NULL_ID_ROW = 40  # block 0 only
_NEG_LOAN_ROW = 14
_CREDIT_MISSING = (5, 33, 47, 61, 88, 102, 140, 171)
_CREDIT_HIGH, _CREDIT_LOW = 15, 16
_POSTAL_BAD = {8: "invalid", 57: "1234", 133: "ABCDE"}
_WIND_ROW = 21
_SIZE_BAD = {3: "", 7: "NULL", 10: "0"}  # solar rows; the wind row gets -5.0
_HEAT_PUMP_SIZED = (44, 52, 66, 79, 91, 107, 118, 126, 150, 163, 188)
_HEAT_PUMP_PLAIN = (30, 37, 70, 84, 99, 114, 145, 157, 176, 182, 195)
_EMAIL_UPPER, _EMAIL_EMPTY, _EMAIL_TRAIL, _EMAIL_TAB, _EMAIL_UNI = 2, 17, 18, 24, 25
_INCOME_MISSING, _INCOME_ZERO = 13, 23
_DATE_FUTURE, _DATE_OLD = 19, 20
_INSTALLER_UNKNOWN = 9

_DAY0 = dt.date(2023, 1, 1)


def _iso(d: dt.date) -> str:
    return d.isoformat()


def id_width(scale: int) -> int:
    """Digits in ``APPnnn`` ids: 3 at 1×, wider once ids outgrow them."""
    return max(3, len(str(scale * APPS_PER_BLOCK)))


def _app_block(rng: random.Random, block: int, width: int) -> tuple[list[str], list[str]]:
    """One block of application lines; returns (lines, loan candidate
    ids: approved applications first, then the rest, each shuffled)."""
    base = block * APPS_PER_BLOCK
    ids = [f"APP{base + i + 1:0{width}d}" for i in range(APPS_PER_BLOCK)]
    ids[_DUP_ROW] = ids[_DUP_ROW - 1]
    lines, approved, others = [], [], []
    for i in range(APPS_PER_BLOCK):
        app_id = ids[i]
        if block == 0 and i == _NULL_ID_ROW:
            app_id = ""
        name = f"cust{base + i}"
        email = f"{name}@example.de"
        if i == _EMAIL_UPPER:
            email = email.upper()
        elif i == _EMAIL_EMPTY:
            email = ""
        elif i == _EMAIL_TRAIL:
            email += "   "
        elif i == _EMAIL_TAB:
            email = f"{name}\t@example.de"
        elif i == _EMAIL_UNI:
            email = f"jürgen{base + i}@example.de"
        installer = (
            "INST_999" if i == _INSTALLER_UNKNOWN else f"INST_{rng.randint(1, 50):03d}"
        )
        if i == _WIND_ROW:
            itype, size = "wind_turbine", "-5.0"
        elif i in _HEAT_PUMP_SIZED:
            itype, size = "heat_pump", f"{rng.randint(30, 150) / 10:.1f}"
        elif i in _HEAT_PUMP_PLAIN:
            itype, size = "heat_pump", ""
        else:
            itype = "solar_pv" if rng.random() < 0.6 else "solar_battery"
            size = _SIZE_BAD.get(i, f"{rng.randint(30, 150) / 10:.1f}")
        amount = "-5000" if i == _NEG_LOAN_ROW else str(rng.randint(50, 600) * 100)
        term = str(rng.choice((60, 120, 180, 240)))
        if i == _DATE_FUTURE:
            app_date = "2027-06-01"
        elif i == _DATE_OLD:
            app_date = "1999-03-15"
        else:
            app_date = _iso(_DAY0 + dt.timedelta(days=rng.randint(0, 1094)))
        if i in _CREDIT_MISSING:
            score = "NULL" if i == _CREDIT_MISSING[0] else ""
        elif i == _CREDIT_HIGH:
            score = "950"
        elif i == _CREDIT_LOW:
            score = "250"
        else:
            score = str(rng.randint(560, 840))
        if i == _INCOME_MISSING:
            income = ""
        elif i == _INCOME_ZERO:
            income = "0"
        else:
            income = str(rng.randint(20, 150) * 1000)
        postal = _POSTAL_BAD.get(i, f"{rng.randint(1000, 99999):05d}")
        r = rng.random()
        status = "approved" if r < 0.72 else ("declined" if r < 0.88 else "pending")
        if app_id and i != _DUP_ROW and not (block == 0 and i == _WIDE_ROW):
            (approved if status == "approved" else others).append(app_id)
        if block == 0 and i == _WIDE_ROW:
            # unescaped comma inside the email: exactly one field too many
            email = f"comma,in{name}@email.de"
        lines.append(
            ",".join(
                (app_id, email, installer, itype, size, amount, term, app_date,
                 score, income, postal, status)
            )
        )
    rng.shuffle(approved)
    rng.shuffle(others)
    return lines, approved + others


def _lms_block(
    rng: random.Random, block: int, candidates: list[str], width: int
) -> list[str]:
    """One block of LMS update lines keyed on the block's applications.

    Fan-out: 28 application ids repeat (16 pairs + 12 triples = 68 rows),
    and 20 loan ids repeat 7 times (140 rows), as in the reference data.
    """
    singles = LMS_PER_BLOCK - 68
    picks = candidates[: 28 + singles]
    app_ids = [a for a in picks[:16] for _ in range(2)]
    app_ids += [a for a in picks[16:28] for _ in range(3)]
    app_ids += picks[28:]
    app_ids[-1] = ""  # blank
    app_ids[-2] = "APP_DECLINED"  # fails the id regex
    app_ids[-3] = "APP" + "9" * width  # orphan: no such application
    rng.shuffle(app_ids)

    loan_nums = [g for g in range(20) for _ in range(7)] + list(range(20, 57))
    rng.shuffle(loan_nums)

    neg_dpd = {3: "-5", 4: "-1", 5: "-1"}
    lines = []
    for j in range(LMS_PER_BLOCK):
        loan_id = f"LN{block * 100 + loan_nums[j]:08d}"
        disb = _DAY0 + dt.timedelta(days=rng.randint(365, 1064))
        balance = f"{rng.randint(100000, 6000000) / 100:.2f}"
        if j == 0:
            balance = "-5000"
        dpd_n = rng.choice((0, 0, 0, 0, 0, 12, 25, 45, 75, 120, 200))
        dpd = neg_dpd.get(j, str(dpd_n))
        if j == 6:
            dpd = ""
        status = (
            "current" if dpd_n == 0 else "late" if dpd_n <= 30
            else "delinquent" if dpd_n <= 90 else "default"
        )
        if j == 7:
            status = "CURRENT"
        elif j == 8:
            status = "pending"
        last = disb + dt.timedelta(days=rng.randint(1, 300))
        nxt = last + dt.timedelta(days=30)
        if 10 <= j < 18:  # last payment before disbursement
            last = disb - dt.timedelta(days=40)
            nxt = disb - dt.timedelta(days=10) if j < 15 else disb + dt.timedelta(days=20)
        disb_s = "NULL" if j == 9 else _iso(disb)
        lines.append(
            ",".join(
                (loan_id, app_ids[j], disb_s, balance, dpd, status, _iso(last), _iso(nxt))
            )
        )
    return lines


def generate(out_dir: str, scale: int = 1, seed: int = 0) -> dict[str, str]:
    """Write ``data/applications_expanded.csv`` and
    ``data/lms_updates_expanded.csv`` under ``out_dir`` (the layout
    ``SPARK_GRAFT_REFERENCE_DIR`` expects); returns name → path."""
    if scale < 1:
        raise ValueError(f"scale must be >= 1, got {scale}")
    rng = random.Random(seed)
    width = id_width(scale)
    data = os.path.join(out_dir, "data")
    os.makedirs(data, exist_ok=True)
    apps_path = os.path.join(data, "applications_expanded.csv")
    lms_path = os.path.join(data, "lms_updates_expanded.csv")
    with open(apps_path, "w", encoding="utf-8") as fa, open(
        lms_path, "w", encoding="utf-8"
    ) as fl:
        fa.write(APP_HEADER + "\n")
        fl.write(LMS_HEADER + "\n")
        for block in range(scale):
            app_lines, candidates = _app_block(rng, block, width)
            fa.write("\n".join(app_lines) + "\n")
            fl.write("\n".join(_lms_block(rng, block, candidates, width)) + "\n")
    return {"applications": apps_path, "lms_updates": lms_path}

