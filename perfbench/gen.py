"""Seeded source for the benchmark's reference-pipeline workload.

`bls_source` writes a production-shaped source directory: a BLS
`pr.data.0.Current` with a header, blank lines and footnote codes, a
few sibling `pr.*` files, and a DataUSA `population.json` without 2020.

The same seed always gives the same bytes.
"""
import json
import os

import numpy as np

SERIES = 282


def series_ids():
    """`SERIES` distinct PRS ids; PRS30006032 (Req C) is always one."""
    ids = ["PRS30006032"]
    k = 0
    while len(ids) < SERIES:
        sid = f"PRS{30006011 + k * 10 + (k % 3):08d}"
        if sid != ids[0]:
            ids.append(sid)
        k += 1
    return ids


def bls_source(out_dir, seed):
    """Production-shaped pipeline source: `SERIES` series, 1995-2025,
    Q01-Q05, with header, blank and footnote lines."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    lines = ["series_id        \tyear\tperiod\t       value\tfootnote_codes"]
    for sid in series_ids():
        # production series are either small % changes or large indexes
        index_like = rng.random() < 0.35
        first = int(rng.choice([1995, 1995, 1995, 2000, 2008]))
        for year in range(first, 2026):
            periods = 5 if year < 2025 else int(rng.integers(1, 4))
            for p in range(1, periods + 1):
                v = rng.normal(100.0, 15.0) if index_like else rng.normal(0.5, 3.0)
                # a few rare spikes far outside the bulk (IQR outliers)
                if rng.random() < 0.0005:
                    v = 400.0 + rng.random() * 20.0
                foot = "\tR" if rng.random() < 0.01 else ""
                lines.append(f"{sid:<17}\t{year}\tQ{p:02d}\t{v:12.1f}{foot}")
            if rng.random() < 0.02:
                lines.append("")
    with open(os.path.join(out_dir, "pr.data.0.Current"), "w") as f:
        f.write("\n".join(lines) + "\n")
    for name, body in [("pr.period", "period\tperiod_abbr\tperiod_name\nQ01\tQTR1\t1st Quarter\n"),
                       ("pr.footnote", "footnote_code\tfootnote_text\nR\tRevised\n"),
                       ("pr.txt", "Major Sector Productivity and Costs\n")]:
        with open(os.path.join(out_dir, name), "w") as f:
            f.write(body)
    pop = 316_128_839
    data = []
    for year in range(2013, 2024):
        if year != 2020:
            data.append({"Nation": "United States", "Nation ID": "01000US",
                         "Population": int(pop), "Year": year})
        pop += int(rng.integers(1_000_000, 3_000_000))
    doc = {"annotations": {"source_name": "Census Bureau"},
           "columns": ["Nation", "Nation ID", "Population", "Year"], "data": data}
    with open(os.path.join(out_dir, "population.json"), "w") as f:
        json.dump(doc, f, indent=1)
