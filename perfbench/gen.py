"""Seeded pure-Python generator of raw FDA adverse-event and
clinical-trial days, laid out the way the ``cli transform`` read path
expects them: ``<base>/raw/{fda,clinicaltrials}/year=/month=/day=/part-00000.json``
(JSON lines, one record per line).

The same (seed, day index, size) always gives the same bytes: every
draw comes from a ``random.Random`` seeded by those three values, and
records are serialized with a fixed key order.

Dirty values are kept inside the quality gate's thresholds
(``operators/quality.py``): required fields are null on at most ~2 % of
rows (the gate allows 10 %), ages are null rather than out of range
(the range check allows none), and dates never lie in the future or
out of order. Duplicate report / trial ids are exact copies of an
earlier row, so ``dropDuplicates`` keeps the same values whichever copy
it picks.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
from dataclasses import dataclass

FIRST_DAY = dt.date(2024, 1, 1)

_PREFIXES = [
    "ab", "acet", "al", "amlo", "ator", "bena", "cal", "car", "cef", "cipro",
    "clo", "dapa", "dex", "dulo", "ena", "esci", "flu", "gaba", "glip", "hydro",
    "ibu", "insu", "keto", "lami", "levo", "lisi", "lora", "meto", "metro", "mon",
    "napro", "nife", "ola", "ome", "pan", "pred", "quet", "rami", "rosu", "sert",
    "simva", "suma", "tam", "telmi", "tra", "val", "vera", "warfa", "zol", "zopi",
]
_SUFFIXES = [
    "profen", "pril", "sartan", "statin", "olol", "dipine", "mab", "nib",
    "azole", "cillin", "mycin", "floxacin", "tidine", "prazole", "lukast",
    "gliptin", "flozin", "parin", "semide", "thiazide", "xetine", "pam",
    "done", "pine", "triptan", "vir", "lamide", "cort", "sone", "formin",
]
_BASES = [
    "hypertension", "type 2 diabetes", "type 1 diabetes", "breast cancer",
    "lung cancer", "prostate cancer", "colorectal cancer", "asthma",
    "copd", "heart failure", "atrial fibrillation", "major depression",
    "anxiety", "schizophrenia", "bipolar disorder", "epilepsy", "migraine",
    "rheumatoid arthritis", "osteoarthritis", "psoriasis", "crohn disease",
    "ulcerative colitis", "hepatitis c", "hiv infection", "influenza",
    "pneumonia", "urinary tract infection", "chronic kidney disease",
    "hyperlipidemia", "obesity", "osteoporosis", "parkinson disease",
    "alzheimer disease", "multiple sclerosis", "insomnia", "gout",
    "anemia", "hypothyroidism", "glaucoma", "acne",
]
_QUALIFIERS = [
    "metastatic", "recurrent", "refractory", "advanced", "early",
    "pediatric", "adult", "severe", "mild", "chronic", "acute",
    "stage ii", "stage iii", "stage iv", "treatment resistant",
]
_REACTIONS = [
    "nausea", "headache", "dizziness", "rash", "fatigue", "vomiting",
    "diarrhoea", "insomnia", "pruritus", "dyspnoea", "arthralgia",
    "hypotension", "drug ineffective", "off label use", "pyrexia",
]
_STATUSES = [
    "COMPLETED", "COMPLETED", "RECRUITING", "ACTIVE_NOT_RECRUITING",
    "ENROLLING_BY_INVITATION", "TERMINATED", "WITHDRAWN", "NOT_YET_RECRUITING",
]
_PHASES = ["PHASE1", "PHASE2", "PHASE3", "PHASE4", "EARLY_PHASE1", "Phase 2/3", "NA", ""]


@dataclass(frozen=True)
class DaySize:
    """Rows per raw day and the vocabulary they draw from."""

    events: int
    trials: int
    drugs: int
    conditions: int


def day_date(index: int) -> str:
    return (FIRST_DAY + dt.timedelta(days=index)).isoformat()


def _drug_names(n: int) -> list[str]:
    names = [p + s for s in _SUFFIXES for p in _PREFIXES]
    return names[:n]


def _condition_names(n: int) -> list[str]:
    """Distinct trial conditions. Most embed a base indication, so the
    containment join matches them; every fifth is an unrelated name
    that matches nothing."""
    out = []
    combos = list(_BASES) + [f"{q} {b}" for q in _QUALIFIERS for b in _BASES]
    for i in range(n):
        if i % 5 == 4:
            out.append(f"rare condition {i}")
        else:
            out.append(combos[i % len(combos)] + ("" if i < len(combos) else f" type {i // len(combos)}"))
    return out


def _messy(rng: random.Random, s: str) -> str:
    """Casing and edge whitespace that the transforms must normalize."""
    r = rng.random()
    if r < 0.3:
        s = s.upper()
    elif r < 0.5:
        s = s.title()
    if rng.random() < 0.1:
        s = " " + s + "\t"
    return s


def _date(d: dt.date) -> str:
    return d.isoformat()


def fda_rows(seed: int, index: int, size: DaySize) -> list[dict]:
    rng = random.Random(f"fda/{seed}/{index}/{size}")
    day = FIRST_DAY + dt.timedelta(days=index)
    drugs = _drug_names(size.drugs)
    rows: list[dict] = []
    for i in range(size.events):
        if rows and rng.random() < 0.03:
            rows.append(dict(rng.choice(rows)))
            continue
        serious = rng.random() < 0.4
        rows.append(
            {
                "safetyreportid": f"{seed}-{index}-{i}",
                "receivedate": None
                if rng.random() < 0.01
                else _date(day - dt.timedelta(days=rng.randrange(30))),
                "serious": None if rng.random() < 0.02 else int(serious),
                "seriousnessdeath": int(serious and rng.random() < 0.05),
                "seriousnesshospitalization": None
                if rng.random() < 0.02
                else int(serious and rng.random() < 0.4),
                "drug_name": None
                if rng.random() < 0.015
                else _messy(rng, rng.choice(drugs)),
                "drug_indication": None
                if rng.random() < 0.05
                else _messy(rng, rng.choice(_BASES)),
                "reaction": None if rng.random() < 0.05 else rng.choice(_REACTIONS),
                "patient_age": None
                if rng.random() < 0.08
                else round(rng.uniform(0.0, 105.0), 1),
                "patient_sex": rng.choice(["M", "F", "F", "U", None]),
            }
        )
    return rows


def trial_rows(seed: int, index: int, size: DaySize) -> list[dict]:
    rng = random.Random(f"ct/{seed}/{index}/{size}")
    day = FIRST_DAY + dt.timedelta(days=index)
    conditions = _condition_names(size.conditions)
    rows: list[dict] = []
    for i in range(size.trials):
        if rows and rng.random() < 0.03:
            rows.append(dict(rng.choice(rows)))
            continue
        start = day - dt.timedelta(days=rng.randrange(200, 2000))
        end = start + dt.timedelta(days=rng.randrange(0, 1500))
        cond = rng.choice(conditions)
        rows.append(
            {
                "nct_id": f"NCT{seed}-{index}-{i}",
                "brief_title": None
                if rng.random() < 0.01
                else f"Study of {rng.choice(_PREFIXES)} in {cond}",
                "overall_status": None if rng.random() < 0.01 else rng.choice(_STATUSES),
                "phase": None if rng.random() < 0.05 else rng.choice(_PHASES),
                "enrollment_count": None
                if rng.random() < 0.03
                else float(rng.randrange(0, 3000)),
                "conditions": _messy(rng, cond),
                "start_date": None if rng.random() < 0.02 else _date(start),
                "completion_date": None
                if rng.random() < 0.1
                else _date(min(end, day)),
            }
        )
    return rows


def _encode(rows: list[dict]) -> bytes:
    return "".join(json.dumps(r, separators=(",", ":")) + "\n" for r in rows).encode()


def day_bytes(seed: int, index: int, size: DaySize) -> tuple[bytes, bytes]:
    """(FDA JSON lines, trial JSON lines) for one day."""
    return _encode(fda_rows(seed, index, size)), _encode(trial_rows(seed, index, size))


def partition_dir(base: str, date: str) -> str:
    y, m, d = date.split("-")
    return f"{base}/year={y}/month={m}/day={d}"


def write_day(root: str, seed: int, index: int, size: DaySize) -> str:
    """Write day ``index`` under ``root/raw`` and return its date."""
    date = day_date(index)
    fda, ct = day_bytes(seed, index, size)
    for source, payload in (("fda", fda), ("clinicaltrials", ct)):
        d = partition_dir(f"{root}/raw/{source}", date)
        os.makedirs(d, exist_ok=True)
        with open(f"{d}/part-00000.json", "wb") as fh:
            fh.write(payload)
    return date
