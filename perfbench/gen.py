"""Seeded input generators for the benchmark.

Two families, both written with pyarrow/json only (no Spark):

- ``write_tables``: the ten parquet tables ``catalog.TABLE_NAMES`` reads.
  The eight scaled ones come from the repository's own generator,
  ``tools/gen_scale.py``, at ``factor`` x its sf0.1 row counts; nation
  and region have a fixed cardinality at every scale and are built here.
  Every registered query reads these.
- ``write_articles``: the bronze scraper corpus of FIXTURES.md section A,
  IEEE (11 string columns, ``DOI: ...`` form) and ACM (9 string columns,
  ``https://doi.org/...`` form) records as pretty-printed JSON arrays,
  the shape the reference scrapers dump. Returns what was written, so the
  benchmark can check the pipeline's output against it.
"""

from __future__ import annotations

import importlib.util
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# documents and embeddings never drop below this many rows, as in the
# fixtures, which hold 500 of each at sf0.001 and at sf0.01
MIN_TEXT_ROWS = 500
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _gen_scale():
    """``tools/gen_scale.py`` of the checkout the benchmark runs from."""
    path = os.path.join(os.getcwd(), "tools", "gen_scale.py")
    spec = importlib.util.spec_from_file_location("gen_scale", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def write_tables(out_dir: str, factor: float, seed: int = 42) -> dict[str, int]:
    """Write the ten tables, the scaled ones at ``factor`` x the sf0.1
    rows; returns rows per table."""
    gs = _gen_scale()
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": pa.array(REGIONS),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
            }
        ),
    }
    # gen_scale's table order, so one seed draws the same stream
    for name, make in (
        ("documents", gs.gen_documents),
        ("embeddings", gs.gen_embeddings),
        ("events", gs.gen_events),
        ("orders", gs.gen_orders),
        ("lineitem", gs.gen_lineitem),
        ("customer", gs.gen_customer),
        ("part", gs.gen_part),
        ("supplier", gs.gen_supplier),
    ):
        n = max(1, round(gs.BASE[name] * factor))
        if name in ("documents", "embeddings"):
            n = max(n, MIN_TEXT_ROWS)
        tables[name] = make(rng, n)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}


# --- bronze article corpus -------------------------------------------------

_NAMES = ["Ziyuan", "Lin", "Qin", "Élodie", "Søren", "José", "Zoë", "Wei", "Amara", "Björn"]
_SURNAMES = ["Wang", "Yang", "Müller", "Núñez", "Dubois", "Okafor", "Kowalski", "Sato"]
_VENUES = [
    "BIOTC '24: Proceedings of the 2024 6th Blockchain and Internet of Things Conference",
    "KDD '23: Proceedings of the 29th ACM SIGKDD Conference",
    "ICMLT '24: Proceedings of the 9th International Conference on Machine Learning",
    "WWW '24: Proceedings of the ACM Web Conference 2024",
]
_MONTHS = ["January", "March", "June", "September", "December"]
_EXTRA_WORDS = ["blockchain", "reseau", "donnees", "learning", "privacy", "graph"]
ABSTRACT_WORDS = (120, 360)  # [min, max) words per abstract
STREAM_WORDS = 200_000


def _dump_array(recs: list[dict], path: str) -> None:
    """Write ``recs`` byte-identically to ``json.dump(recs, f,
    ensure_ascii=False, indent=2)``, which runs the pure-Python encoder;
    only the string values go through the C encoder here."""
    enc = json.JSONEncoder(ensure_ascii=False).encode
    with open(path, "w", encoding="utf-8") as fh:
        if not recs:
            fh.write("[]")
            return
        fh.write("[\n")
        for i, rec in enumerate(recs):
            body = ",\n".join(f"    {enc(k)}: {enc(v)}" for k, v in rec.items())
            fh.write(f"  {{\n{body}\n  }}" + (",\n" if i + 1 < len(recs) else "\n"))
        fh.write("]")


def write_articles(out_dir: str, seed: int, records: int, files: int) -> dict:
    """Write ``files`` IEEE and ``files`` ACM bronze JSON arrays holding
    ``records`` records in all. One in ten ACM records repeats an IEEE
    DOI in the ACM URL encoding (a cross-source duplicate) and one in
    twenty records has an empty DOI. Returns the paths and the row count
    and distinct canonical DOI count the silver union must reproduce."""
    rng = np.random.default_rng(seed)
    words = np.array(_gen_scale().VOCAB + _EXTRA_WORDS)
    people = [f"{a} {b}" for a in _NAMES for b in _SURNAMES]
    n_ieee = records // 2
    dois: set[str] = set()
    out = {"rows": records}
    for source, lo, hi in (("ieee", 0, n_ieee), ("acm", n_ieee, records)):
        n = hi - lo
        idx = np.arange(n)
        keys = lo + idx
        if source == "acm":
            # one in ten ACM records is a paper also scraped from IEEE
            dup = (idx % 10 == 3) & (idx < n_ieee)
            keys = np.where(dup, idx, keys)
        year = 2015 + keys % 10
        n_auth = rng.integers(0, 9, n)
        auth = rng.integers(0, len(people), (n, 8))
        # abstracts are cut at word boundaries from one shared word stream
        stream = " ".join(words[rng.integers(0, len(words), STREAM_WORDS)])
        starts = np.flatnonzero(np.frombuffer(stream.encode("ascii"), np.uint8) == 32) + 1
        first = rng.integers(0, len(starts) - ABSTRACT_WORDS[1], n)
        last = first + rng.integers(*ABSTRACT_WORDS, n)
        title_words = words[rng.integers(0, len(words), (n, 8))]
        recs = []
        for i in range(n):
            key = int(keys[i])
            bare = f"10.1109/BENCH.{year[i]}.{key:08d}"
            if i % 20 == 7:
                doi = ""  # scraper miss: empty string is the null sentinel
            else:
                doi = f"DOI: {bare}" if source == "ieee" else f"https://doi.org/{bare}"
                dois.add(bare)
            rec = {
                "journal": "" if source == "ieee" else _VENUES[key % len(_VENUES)],
                "indexation": source.upper(),
                "publication": (
                    "Publisher: IEEE"
                    if source == "ieee"
                    else f"{1 + key % 28:02d} {_MONTHS[key % len(_MONTHS)]} {year[i]}"
                ),
                "doi": doi,
                "titre": " ".join(title_words[i]).capitalize(),
                "chercheurs": "; ".join(people[a] for a in auth[i, : n_auth[i]]),
                "laboratoires": "",
                "abstract": stream[starts[first[i]] : starts[last[i]] - 1],
                "keywords": "",
            }
            if source == "ieee":
                rec["pays"] = ""
                rec["quartile"] = ""
            recs.append(rec)
        folder = os.path.join(out_dir, source)
        os.makedirs(folder, exist_ok=True)
        per_file = -(-n // files)
        for f in range(files):
            _dump_array(recs[f * per_file : (f + 1) * per_file], os.path.join(folder, f"part-{f:03d}.json"))
        out[source] = folder
    out["distinct_doi"] = len(dois)
    out["bytes"] = sum(
        os.path.getsize(os.path.join(out[s], f)) for s in ("ieee", "acm") for f in os.listdir(out[s])
    )
    return out
