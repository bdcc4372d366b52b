"""Seeded input generators for the benchmark.

Everything here is plain Python, NumPy and pyarrow in the benchmark's own
process; the engine only ever sees the files written. The same seed gives
byte-identical files and manifest.

* ``make_fast_inputs`` writes the eight FAST authority N-Triples files the
  ingest job expects, plus a VIAF parquet table, with every case the
  pipeline has a rule for: each entity's triples shuffled across its file,
  sameAs-label subjects (hits and misses), LC and VIAF links, ids repeated
  across files, VIAF-linked Event terms, ``/fast/NaN`` rows, labels shorter
  than two characters, diacritics, plurals and malformed lines.
* ``make_tables`` writes TPC-H-shaped ``customer``/``orders``/``lineitem``
  tables, an ``events`` stream table and a ``documents`` corpus with planted
  exact and near duplicates, in the schemas of the registry's queries.
"""

from __future__ import annotations

import hashlib
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FAST = "http://id.worldcat.org/fast"
LC_NAMES = "http://id.loc.gov/authorities/names"
LC_SUBJECTS = "http://id.loc.gov/authorities/subjects"
VIAF = "http://viaf.org/viaf"
PREF = "http://www.w3.org/2004/02/skos/core#prefLabel"
ALT = "http://www.w3.org/2004/02/skos/core#altLabel"
LBL = "http://www.w3.org/2000/01/rdf-schema#label"
SAME = "http://schema.org/sameAs"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
IDENT = "http://purl.org/dc/terms/identifier"

# File stem -> authority type, the layout of the FAST dump.
FAST_FILES = {
    "FASTChronological": "Chronological",
    "FASTCorporate": "Corporate",
    "FASTEvent": "Event",
    "FASTFormGenre": "Form",
    "FASTGeographic": "Geographic",
    "FASTPersonal": "Personal",
    "FASTTitle": "Title",
    "FASTTopical": "Topical",
}
AGENT_TYPES = ("Corporate", "Event", "Personal")
# Share of each file's entities. This mix, like every rate below (LC and
# VIAF link rates, sameAs-label hits, the VIAF table's match rates), is an
# assumption chosen so that every rule of the pipeline sees work; none of it
# is measured from the FAST dump.
FILE_WEIGHTS = {
    "Chronological": 0.03, "Corporate": 0.15, "Event": 0.04, "Form": 0.02,
    "Geographic": 0.12, "Personal": 0.30, "Title": 0.06, "Topical": 0.28,
}

WORDS = (
    "river church glass history farm policy war insurance market bridge music "
    "garden railway school harbour castle library mining textile council "
    "festival language museum island valley monastery theater canal"
).split()
PLURALS = "cities berries apples churches glasses policies libraries councils valleys".split()
ACCENTED = "Éples Niños Zürich Côte São Ångström Málaga Kraków Québec Dvořák".split()
MALFORMED = (
    "Not a triple text",
    f"<{FAST}/1> <{PREF}> \"unterminated literal",
    f"<{FAST}/2> {PREF} \"no brackets\" .",
    "<> <> <> .",
    "",
)


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def _uri(s: str) -> str:
    return f"<{s}>"


def _lit(rng: random.Random, text: str) -> str:
    return f'"{text}"@en' if rng.random() < 0.2 else f'"{text}"'


def _label(rng: random.Random) -> str:
    n = rng.randint(1, 4)
    parts = []
    for _ in range(n):
        r = rng.random()
        pool = ACCENTED if r < 0.12 else PLURALS if r < 0.35 else WORDS
        w = rng.choice(pool)
        parts.append(w.capitalize() if rng.random() < 0.6 else w)
    label = " ".join(parts)
    if rng.random() < 0.15:
        label += f" ({rng.choice(WORDS).capitalize()}, {rng.randint(1800, 2020)})"
    return label


def make_fast_inputs(out_dir: str, seed: int, n_entities: int) -> dict:
    """Write ``out_dir/nt/FAST*.nt`` and ``out_dir/viaf.parquet``; return the
    manifest with the counts the ingest job must observe."""
    rng = random.Random(seed)
    nt_dir = os.path.join(out_dir, "nt")
    os.makedirs(nt_dir, exist_ok=True)

    # Disjoint id ranges per file; a share of ids is reused in a second file
    # (the cross-file duplicates the merge step resolves).
    ids_by_type: dict[str, list[int]] = {}
    next_id = 10_000
    for type_name, w in FILE_WEIGHTS.items():
        n = max(4, int(n_entities * w))
        ids_by_type[type_name] = list(range(next_id, next_id + n))
        next_id += n + 1_000
    non_agent = [t for t in FILE_WEIGHTS if t not in ("Corporate", "Personal")]
    for type_name in non_agent:
        donors = [t for t in non_agent if t != type_name]
        for _ in range(max(1, len(ids_by_type[type_name]) // 20)):
            ids_by_type[type_name].append(rng.choice(ids_by_type[rng.choice(donors)]))

    lines_by_file: dict[str, list[str]] = {}
    n_malformed = 0
    # (type, id) -> True when the entity carries a VIAF link in that file
    has_viaf: dict[tuple[str, int], bool] = {}
    lc_other: list[str] = []  # agent-file LC ids (the viaf.lcId join key)
    viaf_other: list[str] = []  # agent-file VIAF ids (the viaf.viaf join key)
    next_link = 1
    for stem, type_name in FAST_FILES.items():
        agent = type_name in AGENT_TYPES
        lines: list[str] = []
        for fid in ids_by_type[type_name]:
            s = _uri(f"{FAST}/{fid}")
            lines.append(f"{s} {_uri(RDF_TYPE)} <http://schema.org/Intangible> .")
            lines.append(f'{s} {_uri(IDENT)} "{fid}" .')
            r = rng.random()
            if r < 0.04:
                lines.append(f'{s} {_uri(PREF)} "{rng.choice("xyz")}" .')  # < 2 chars
            elif r < 0.10:
                lines.append(f"{s} {_uri(LBL)} {_lit(rng, _label(rng))} .")  # label only
            else:
                for _ in range(2 if rng.random() < 0.05 else 1):
                    lines.append(f"{s} {_uri(PREF)} {_lit(rng, _label(rng))} .")
            for _ in range(rng.choice((0, 0, 1, 1, 2, 3))):
                lines.append(f"{s} {_uri(ALT)} {_lit(rng, _label(rng))} .")
            if rng.random() < (0.7 if agent else 0.3):
                base = LC_NAMES if agent else LC_SUBJECTS
                other = f"n{next_link}"
                next_link += 1
                lc = f"{base}/{other}"
                lines.append(f"{s} {_uri(SAME)} {_uri(lc)} .")
                if agent:
                    lc_other.append(other)
                if rng.random() < 0.6:  # a sameAs-label subject the doc links to
                    lines.append(f"{_uri(lc)} {_uri(LBL)} {_lit(rng, _label(rng))} .")
            viaf_p = {"Corporate": 0.5, "Personal": 0.5, "Event": 0.3}.get(type_name, 0.05)
            linked = rng.random() < viaf_p
            has_viaf[(type_name, fid)] = has_viaf.get((type_name, fid), False) or linked
            if linked:
                other = str(next_link)
                next_link += 1
                uri = f"{VIAF}/{other}"
                lines.append(f"{s} {_uri(SAME)} {_uri(uri)} .")
                if agent:
                    viaf_other.append(other)
                if rng.random() < 0.3:
                    lines.append(f"{_uri(uri)} {_uri(LBL)} {_lit(rng, _label(rng))} .")
            if rng.random() < 0.01:  # object-side NaN: the whole triple drops
                lines.append(f"{s} {_uri(SAME)} {_uri(FAST + '/NaN')} .")
        n = len(ids_by_type[type_name])
        for _ in range(max(1, n // 10)):  # sameAs labels no doc links to
            lines.append(
                f"{_uri(f'{LC_NAMES}/u{next_link}')} {_uri(LBL)} {_lit(rng, _label(rng))} ."
            )
            next_link += 1
        for _ in range(max(1, n // 100)):
            lines.append(f"{_uri(FAST + '/NaN')} {_uri(PREF)} \"Bad Row\" .")
            lines.append(rng.choice(MALFORMED))
            n_malformed += 1
        rng.shuffle(lines)
        lines_by_file[stem] = lines

    files = {}
    for stem, lines in lines_by_file.items():
        path = os.path.join(nt_dir, f"{stem}.nt")
        with open(path, "w", encoding="utf-8", newline="\n") as f:
            f.write("\n".join(lines) + "\n")
        files[f"{stem}.nt"] = {"lines": len(lines), "sha256": _sha256(path)}

    # The pre-existing viaf table: rows keyed by agent VIAF ids and LC ids
    # (matches), unrelated rows, null and pre-filled ``fast`` arrays.
    viaf_rows = []
    k = 0
    for other in viaf_other:
        if rng.random() < 0.6:
            viaf_rows.append((f"v{k}", other, None, rng.choice((None, [], [rng.randint(1, 99)]))))
            k += 1
    for other in lc_other:
        if rng.random() < 0.4:
            viaf_rows.append((f"v{k}", f"x{k}", other, rng.choice((None, [], [7]))))
            k += 1
    for _ in range(max(4, len(viaf_rows) // 4)):
        viaf_rows.append((f"v{k}", f"none{k}", rng.choice((None, f"zz{k}")), None))
        k += 1
    rng.shuffle(viaf_rows)
    viaf_table = pa.table(
        {
            "_id": [r[0] for r in viaf_rows],
            "viaf": [r[1] for r in viaf_rows],
            "lcId": [r[2] for r in viaf_rows],
            "fast": pa.array([r[3] for r in viaf_rows], type=pa.list_(pa.int64())),
        }
    )
    viaf_path = os.path.join(out_dir, "viaf.parquet")
    pq.write_table(viaf_table, viaf_path)

    fast_ids = {
        fid
        for t in non_agent
        for fid in ids_by_type[t]
        if not (t == "Event" and has_viaf[(t, fid)])
    }
    n_lines = sum(v["lines"] for v in files.values())
    manifest = {
        "seed": seed,
        "n_entities": n_entities,
        "files": files,
        "n_lines": n_lines,
        "n_triples": n_lines - n_malformed,
        "n_fast_docs": len(fast_ids),
        "n_viaf_docs": len(viaf_rows),
        "viaf_sha256": _sha256(viaf_path),
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


# ---------------------------------------------------------------------------
# Registry tables
# ---------------------------------------------------------------------------

DOC_VOCAB = (
    "batch part spark line column order small sort fast value scan a hash slow "
    "group agg filter big key window row table stream merge data query join "
    "vector customer the"
).split()
EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _write(table: pa.Table, out_dir: str, name: str, manifest: dict) -> None:
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(table, path, compression="snappy")
    manifest["tables"][name] = {"rows": table.num_rows, "sha256": _sha256(path)}


def make_tables(out_dir: str, seed: int, scale: float) -> dict:
    """Write the registry tables at ``scale`` (1.0 = 15,000 orders) and
    return a manifest of row counts and file digests."""
    rs = np.random.RandomState(seed)
    os.makedirs(out_dir, exist_ok=True)
    manifest: dict = {"seed": seed, "scale": scale, "tables": {}}
    n_cust = max(50, int(1_500 * scale))
    n_orders = max(200, int(15_000 * scale))
    n_events = max(200, int(10_000 * scale))
    n_docs = max(50, int(1_000 * scale))

    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(
        pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rs.randint(0, 25, n_cust), pa.int32()),
                "c_acctbal": np.round(rs.uniform(-999.99, 9999.99, n_cust), 2),
                "c_mktsegment": segments[rs.randint(0, 5, n_cust)],
            }
        ),
        out_dir, "customer", manifest,
    )

    order_days = rs.randint(0, 2404, n_orders)
    _write(
        pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
                "o_custkey": pa.array(rs.randint(0, n_cust, n_orders), pa.int64()),
                "o_orderstatus": np.array(["O", "F", "P"])[rs.randint(0, 3, n_orders)],
                "o_totalprice": np.round(rs.uniform(1000.0, 500000.0, n_orders), 2),
                "o_orderdate": EPOCH_1995 + order_days.astype("timedelta64[D]"),
                "o_orderpriority": np.array(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
                )[rs.randint(0, 5, n_orders)],
            }
        ),
        out_dir, "orders", manifest,
    )

    per_order = rs.randint(1, 8, n_orders)
    l_order = np.repeat(np.arange(n_orders), per_order)
    n_lines = len(l_order)
    l_number = np.concatenate([np.arange(1, k + 1) for k in per_order]).astype(np.int32)
    qty = rs.randint(1, 51, n_lines).astype(np.float64)
    ship = order_days[l_order] + rs.randint(1, 122, n_lines)
    _write(
        pa.table(
            {
                "l_orderkey": pa.array(l_order, pa.int64()),
                "l_partkey": pa.array(rs.randint(0, 2_000, n_lines), pa.int64()),
                "l_suppkey": pa.array(rs.randint(0, 100, n_lines), pa.int64()),
                "l_linenumber": pa.array(l_number, pa.int32()),
                "l_quantity": qty,
                "l_extendedprice": np.round(qty * rs.uniform(900.0, 2100.0, n_lines), 2),
                "l_discount": rs.randint(0, 11, n_lines) / 100.0,
                "l_tax": rs.randint(0, 9, n_lines) / 100.0,
                "l_returnflag": np.array(["A", "N", "R"])[rs.randint(0, 3, n_lines)],
                "l_linestatus": np.array(["O", "F"])[rs.randint(0, 2, n_lines)],
                "l_shipdate": EPOCH_1995 + ship.astype("timedelta64[D]"),
            }
        ),
        out_dir, "lineitem", manifest,
    )

    n_users = max(20, n_events // 7)
    offsets = np.sort(rs.randint(0, 30 * 86_400 * 1_000_000, n_events))
    _write(
        pa.table(
            {
                "event_id": pa.array(np.arange(n_events), pa.int64()),
                "ts": np.datetime64("2024-01-01", "us") + offsets.astype("timedelta64[us]"),
                "user_id": pa.array(rs.randint(0, n_users, n_events), pa.int64()),
                "event_type": np.array(["view", "click", "purchase", "signup", "error"])[
                    rs.randint(0, 5, n_events)
                ],
                "value": np.round(rs.uniform(0.0, 200.0, n_events), 2),
                "props": [f'{{"k": {k}}}' for k in rs.randint(0, 100, n_events)],
            }
        ),
        out_dir, "events", manifest,
    )

    texts: list[str] = []
    for i in range(n_docs):
        r = rs.rand()
        if i > 10 and r < 0.03:  # exact copy
            texts.append(texts[rs.randint(0, i)])
        elif i > 10 and r < 0.15:  # near copy: a few token edits
            toks = texts[rs.randint(0, i)].split()
            for _ in range(rs.randint(1, 4)):
                toks[rs.randint(0, len(toks))] = DOC_VOCAB[rs.randint(0, len(DOC_VOCAB))]
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(DOC_VOCAB[j] for j in rs.randint(0, len(DOC_VOCAB), rs.randint(10, 90))))
    langs = np.array(["en", "en", "en", "de", "fr", "es", "zh"])
    _write(
        pa.table(
            {
                "doc_id": pa.array(np.arange(n_docs), pa.int64()),
                "text": texts,
                "lang": langs[rs.randint(0, len(langs), n_docs)],
                "source": [f"src{k}" for k in rs.randint(0, 20, n_docs)],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        out_dir, "documents", manifest,
    )
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest
