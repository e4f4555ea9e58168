"""Seeded generator for the ``munge`` workload: a dirty CSV shaped like the
Medicare Part B provider/service file, plus its planted ground truth.

The dirt is the reference's: a header line and a trailing copyright line
inside the data, padded numeric strings, ``$`` money strings (quoted when
they carry a thousands comma), descriptions with quoted commas, about 5%
invalid HCPCS codes and about 0.5% empty npi values.
"""

from __future__ import annotations

import csv
import os

import numpy as np

#: Row count of the reference's Medicare Part B file.
FULL_ROWS = 733_917

COLUMNS = [
    "npi", "nppes_provider_last_org_name", "nppes_provider_first_name",
    "nppes_provider_mi", "nppes_credentials", "nppes_provider_gender",
    "nppes_entity_code", "nppes_provider_street1", "nppes_provider_street2",
    "nppes_provider_city", "nppes_provider_zip", "nppes_provider_state",
    "nppes_provider_country", "provider_type",
    "medicare_participation_indicator", "places_of_service", "hcpcs_code",
    "hcpcs_desc", "hcpcs_drug_indicator", "line_srvc_cnt", "bene_unique_cnt",
    "bene_day_srvc_cnt", "average_Medicare_allowed_amt",
    "average_submitted_chrg_amt", "stdev_submitted_chrg_amt",
    "average_Medicare_payment_amt", "stdev_Medicare_payment_amt",
]

INVALID_CODES = ["9921", "q0091", "ABCDE1", "99x13", "J12"]
HCPCS_RE = r"(^[A-Z0-9]\d{3}[A-Z0-9]$)"
COPYRIGHT = "Copyright 2014 CMS-shaped benchmark file. All rights reserved."

SHARES = {"invalid_hcpcs": 0.05, "empty_npi": 0.005, "padded_srvc_cnt": 0.10}

_SURNAMES = np.array(["SMITH", "JONES", "GARCIA", "CHEN", "PATEL", "MILLER",
                      "NGUYEN", "KIM", "BROWN", "LOPEZ"])
_FIRST = np.array(["JOHN", "MARY", "WEI", "ANA", "RAVI", "SARA", "OMAR",
                   "LENA"])
_CREDS = np.array(["MD", "M.D.", "PT", "DO", "O.D.", ""])
_TYPES = np.array(["Internal Medicine", "Obstetrics/Gynecology",
                   "General Practice", "Diagnostic Radiology",
                   "Physical Therapist", "Cardiology"])
_DESCS = np.array([
    "Office/outpatient visit est",
    'Screening papanicolaou smear; obtaining, preparing and conveyance "x"',
    "Injection, epidural, lumbar/sacral",
    "Ultrasound exam, abdominal, complete",
    "Chest x-ray, 2 views",
])
_STATES = np.array(["NY", "CA", "TX", "FL", "WA", "IL", "OH", "GA"])


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> list[str]:
    return [f"${v:,.2f}" for v in rng.uniform(lo, hi, n)]


def generate(out_dir: str, seed: int, n_rows: int = FULL_ROWS) -> dict:
    """Write ``out_dir/medicare/part-00000.csv`` and return the planted
    truth needed by the reference (small: no per-row data)."""
    rng = np.random.default_rng(seed)
    n_prov = max(n_rows // 5, 1)
    npis = np.unique(rng.integers(10**9, 10**10, n_prov * 2))
    npis = rng.permutation(npis)[:n_prov].astype(str)
    npi = npis[rng.integers(0, n_prov, n_rows)].astype(object)
    empty = rng.random(n_rows) < SHARES["empty_npi"]
    npi[empty] = ""

    # Valid codes follow the HCPCS shape; popularity is Zipf-like so some
    # groups are large and most are small.
    n_codes = max(min(3000, n_rows // 20), 1)
    leads = rng.choice(list("GQJ9A"), n_codes)
    mids = rng.integers(0, 1000, n_codes)
    tails = rng.choice(list("0123456789TU"), n_codes)
    codes = np.unique([f"{a}{m:03d}{t}" for a, m, t in zip(leads, mids, tails)])
    weights = 1.0 / np.arange(1, len(codes) + 1) ** 0.8
    weights /= weights.sum()
    hcpcs = codes[rng.choice(len(codes), n_rows, p=weights)].astype(object)
    bad = rng.random(n_rows) < SHARES["invalid_hcpcs"]
    hcpcs[bad] = np.asarray(INVALID_CODES, dtype=object)[
        rng.integers(0, len(INVALID_CODES), int(bad.sum()))
    ]

    srvc = (rng.lognormal(2.5, 1.0, n_rows)).astype(np.int64) + 1
    padded = rng.random(n_rows) < SHARES["padded_srvc_cnt"]
    srvc_s = srvc.astype(str).astype(object)
    srvc_s[padded] = [f" {v} " for v in srvc[padded]]
    bene = (rng.random(n_rows) * srvc).astype(np.int64) + 1
    bene_day = (rng.random(n_rows) * srvc).astype(np.int64) + 1

    def pick(pool):
        return pool[rng.integers(0, len(pool), n_rows)]

    mi = np.where(rng.random(n_rows) < 0.4, pick(np.array(list("ABCDEF"))), "")
    street2 = np.where(rng.random(n_rows) < 0.9, "",
                       np.char.add("SUITE ", rng.integers(1, 99, n_rows).astype(str)))
    cols = [
        npi, pick(_SURNAMES), pick(_FIRST), mi, pick(_CREDS),
        pick(np.array(["M", "F", ""])), pick(np.array(["I", "O"])),
        np.char.add(rng.integers(1, 9999, n_rows).astype(str), " MAIN ST"),
        street2, np.full(n_rows, "SPRINGFIELD"),
        rng.integers(10**8, 10**9, n_rows).astype(str), pick(_STATES),
        np.full(n_rows, "US"), pick(_TYPES), pick(np.array(["Y", "N"])),
        pick(np.array(["O", "F"])), hcpcs, pick(_DESCS),
        pick(np.array(["Y", "N", " N "])), srvc_s, bene.astype(str),
        bene_day.astype(str),
        _money(rng, n_rows, 10, 2500), _money(rng, n_rows, 20, 4000),
        _money(rng, n_rows, 0, 100), _money(rng, n_rows, 5, 2000),
        _money(rng, n_rows, 0, 80),
    ]
    path = os.path.join(out_dir, "medicare")
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "part-00000.csv"), "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(COLUMNS)
        w.writerows(zip(*cols))
        f.write(f'"{COPYRIGHT}"\n')

    # Planted truth for the reference (hcpcs/npi/srvc per row go to a
    # compact npz so the reference never parses the CSV with our parser).
    np.savez(
        os.path.join(out_dir, "truth.npz"),
        npi=np.asarray(npi, dtype=str),
        hcpcs=np.asarray(hcpcs, dtype=str),
        srvc=srvc,
    )
    return {
        "rows": n_rows,
        "providers": n_prov,
        "valid_codes": int(len(codes)),
        "planted": {
            "invalid_hcpcs": int(bad.sum()),
            "empty_npi": int(empty.sum()),
            "padded_srvc_cnt": int(padded.sum()),
        },
    }
