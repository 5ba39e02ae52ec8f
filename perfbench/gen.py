"""Seeded generator for a synthetic Wikidata-like social graph.

Writes one SPARQL-JSON result file per relation
(``raw_data_<relation>.json``, the ``{"head", "results": {"bindings"}}``
envelope the Wikidata endpoint returns) and a ``truth.json`` beside
them holding everything the correctness checks need: node and edge
counts after cleaning and dedup, the planted dirt per kind, typo ->
intended id, homonyms, community labels, birth years and the hub
in-degree.

Properties the graph layers depend on, all set from the seed:

- communities: spouse, child and influenced_by edges fall inside a
  person's community with probability ``P_IN``; each community also
  prefers one institution, so link prediction has signal;
- hub skew: ``educated_at`` targets follow a Zipf popularity over the
  institutions, and the largest in-degree is recorded;
- blacklisted edges: ``influenced_by`` edges (infinite path weight);
- birth years: communities span generations, so the age-gap penalty
  applies to parent/child edges;
- islands: small families joined only by spouse/child edges, never
  reachable from the main component (unreachable pairs);
- names: homonyms, diacritics, and typos used by fuzzy requests;
- dirt rows: exact duplicates, reverse duplicates, malformed URIs,
  unresolved labels and control characters, each with a known count
  and each removed (or scrubbed) by a known rule, so the ingest output
  is predictable exactly.
"""

from __future__ import annotations

import json
import os
import random
import unicodedata

ENTITY = "http://www.wikidata.org/entity/"
RELATIONS = ("spouse", "child", "influenced_by", "educated_at")
INSTITUTION_TYPE = "educational_institution"

FIRST = [
    "Ada", "Alan", "Anna", "Bruno", "Carla", "Dmitri", "Elena", "Felix",
    "Greta", "Hugo", "Ingrid", "Jonas", "Karin", "Lars", "Marta", "Nils",
    "Olga", "Pavel", "Rosa", "Stefan", "Tomas", "Ulla", "Viktor", "Wanda",
    "Yusuf", "Zora", "José", "Zoë", "Chloé", "Agnès", "Håkon", "Renée",
    "Thảo", "Đức", "Minh", "Ngọc", "Sơn", "Lương", "Çelik", "Iñigo",
]
LAST = [
    "Abbott", "Baker", "Castellano", "Duarte", "Eriksen", "Fischer",
    "Galloway", "Hartmann", "Ivanov", "Jensen", "Kowalski", "Lindqvist",
    "Moreau", "Novak", "Oliveira", "Petrov", "Quinlan", "Rossi", "Schmidt",
    "Tanaka", "Ulrich", "Vasquez", "Weber", "Yilmaz", "Zimmermann",
    "Müller", "Nguyễn", "Trần", "Đặng", "Lê", "Phạm", "Núñez", "Brontë",
    "García", "Dvořák", "Łukasz", "Gonçalves", "Søndergaard", "Ångström",
    "Héloïse",
]
MIDDLE = "ABCDEFGHJKLMNPRSTVW"
PLACES = [
    "Aldmoor", "Brightwater", "Castleford", "Dunmere", "Eastwick", "Fairhaven",
    "Glenrock", "Highgate", "Ironbridge", "Kingsbury", "Lakeshore", "Marlow",
    "Northfield", "Oakridge", "Pinecrest", "Queensport", "Redcliff",
    "Stonebury", "Thornton", "Westbrook",
]


# Graph size and shape. The sizes are small on purpose: at this size
# every Spark job is dominated by fixed per-job driver overhead, so a
# larger graph adds wall time, not signal (see README.md).
PERSONS = 500  # main component; island families come on top
COMMUNITIES = 10
INSTITUTIONS = 36
# Zipf exponent of institution popularity, and of the serve workload's
# request names (an assumption, not measured; see README.md)
ZIPF_S = 1.1
P_IN = 0.9  # spouse/child/influence partner drawn from the own community
P_PREF = 0.9  # a person attends the community's preferred institution
SPOUSE_FRAC, CHILD_FRAC, INFLUENCE_FRAC = 0.35, 0.45, 0.35
SECOND_SCHOOL_FRAC = 0.5
ISLAND_FAMILIES = 8
HOMONYM_PAIRS = 12
TYPOS = 40
# planted dirt rows per kind
EXACT_DUPS, REVERSE_DUPS, MALFORMED_URIS, UNRESOLVED_LABELS = 60, 80, 40, 40
CONTROL_CHARS = 30  # persons whose label carries control characters


def fold(s: str) -> str:
    """Independent reference for the search key: NFD-strip the
    combining marks, map đ/Đ, lowercase, trim."""
    s = s.replace("đ", "d").replace("Đ", "D")
    base = "".join(c for c in unicodedata.normalize("NFD", s) if not unicodedata.combining(c))
    return base.lower().strip()


def zipf_weights(n: int, s: float) -> list[float]:
    return [1.0 / (r ** s) for r in range(1, n + 1)]


def _literal(v: str) -> dict:
    return {"type": "literal", "xml:lang": "en", "value": v}


def _binding(p: str, pl: str, o: str, ol: str, o_type: str, year: int | None) -> dict:
    b = {
        "person": {"type": "uri", "value": p if not p.startswith("Q") else ENTITY + p},
        "personLabel": _literal(pl),
        "personSubType": {"type": "literal", "value": "human"},
        "object": {"type": "uri", "value": o if not o.startswith("Q") else ENTITY + o},
        "objectLabel": _literal(ol),
        "objectSubType": {"type": "literal", "value": o_type},
    }
    if year is not None:
        b["birthYear"] = {
            "type": "literal",
            "datatype": "http://www.w3.org/2001/XMLSchema#integer",
            "value": str(year),
        }
    return b


def _typo(rng: random.Random, name: str) -> str:
    """One edit that keeps the first character (the fuzzy prefilter
    blocks on it): substitute, transpose or delete an inner letter."""
    pos = [i for i in range(1, len(name)) if name[i].isalpha()]
    i = rng.choice(pos)
    kind = rng.randrange(3)
    if kind == 0:
        c = rng.choice([ch for ch in "aeioulnrst" if ch != name[i].lower()])
        return name[:i] + c + name[i + 1:]
    if kind == 1 and i + 1 < len(name) and name[i + 1].isalpha() and name[i] != name[i + 1]:
        return name[:i] + name[i + 1] + name[i] + name[i + 2:]
    return name[:i] + name[i + 1:]


def generate(seed: int, out_dir: str) -> dict:
    """Write the raw files under ``out_dir`` and return the truth."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)

    # --- persons: names, communities, birth years ------------------
    n_main = PERSONS
    fam_sizes = [rng.randint(3, 4) for _ in range(ISLAND_FAMILIES)]
    n_all = n_main + sum(fam_sizes)
    pids = [f"Q{1000 + i}" for i in range(n_all)]
    community = {pid: (i % COMMUNITIES if i < n_main else -1) for i, pid in enumerate(pids)}
    era = [rng.randint(1780, 1960) for _ in range(COMMUNITIES)]
    year = {}
    for i, pid in enumerate(pids):
        c = community[pid]
        year[pid] = (era[c] if c >= 0 else 1900) + rng.randint(-12, 12)

    names, used = {}, set()
    for pid in pids:
        while True:
            nm = f"{rng.choice(FIRST)} {rng.choice(MIDDLE)}. {rng.choice(LAST)}"
            if rng.random() < 0.5:
                nm = f"{rng.choice(FIRST)} {rng.choice(LAST)}"
            if fold(nm) not in used:
                used.add(fold(nm))
                names[pid] = nm
                break
    main = pids[:n_main]
    homonyms = []
    for a, b in zip(*[iter(rng.sample(main, 2 * HOMONYM_PAIRS))] * 2):
        used.discard(fold(names[b]))
        names[b] = names[a]
        homonyms.append([a, b])

    # --- institutions with Zipf popularity --------------------------
    iids = [f"Q{900000 + j}" for j in range(INSTITUTIONS)]
    inames = {}
    for j, iid in enumerate(iids):
        inames[iid] = f"University of {PLACES[j % len(PLACES)]} {j // len(PLACES) + 1}"
    zw = zipf_weights(INSTITUTIONS, ZIPF_S)
    # each community prefers one institution outside the top-ranked hubs
    pref = {c: rng.randrange(INSTITUTIONS // 4, INSTITUTIONS) for c in range(COMMUNITIES)}
    members: dict[int, list[str]] = {}
    for pid in main:
        members.setdefault(community[pid], []).append(pid)

    # --- clean edges (person, rel, object) --------------------------
    edges: list[tuple[str, str, str]] = []
    undirected_seen: set[tuple[str, str, str]] = set()

    def add(p: str, rel: str, o: str) -> bool:
        key = (min(p, o), max(p, o), rel)
        if p == o or key in undirected_seen:
            return False
        undirected_seen.add(key)
        edges.append((p, rel, o))
        return True

    def partner(pid: str) -> str:
        c = community[pid]
        if rng.random() < P_IN:
            return rng.choice(members[c])
        return rng.choice(main)

    married = set()
    for pid in rng.sample(main, int(SPOUSE_FRAC * n_main)):
        q = partner(pid)
        if pid in married or q in married or pid == q:
            continue
        if add(pid, "spouse", q):
            married.update((pid, q))
    for pid in rng.sample(main, int(CHILD_FRAC * n_main)):
        # parent of pid: an elder from the same community
        c = community[pid]
        pool = members[c] if rng.random() < P_IN else main
        par = rng.choice(pool)
        if year[par] < year[pid]:
            add(par, "child", pid)
    for pid in rng.sample(main, int(INFLUENCE_FRAC * n_main)):
        add(pid, "influenced_by", partner(pid))
    for pid in main:
        schools = {pref[community[pid]] if rng.random() < P_PREF else rng.choices(range(INSTITUTIONS), zw)[0]}
        if rng.random() < SECOND_SCHOOL_FRAC:
            schools.add(rng.choices(range(INSTITUTIONS), zw)[0])
        for j in sorted(schools):
            add(pid, "educated_at", iids[j])
    # island families: spouse pair + children, nothing else
    islands = []
    k = n_main
    for fs in fam_sizes:
        fam = pids[k:k + fs]
        k += fs
        add(fam[0], "spouse", fam[1])
        for ch in fam[2:]:
            year[ch] = year[fam[0]] + rng.randint(22, 34)
            add(fam[0], "child", ch)
        islands.append(fam)

    # --- typos for fuzzy requests -----------------------------------
    homonym_ids = {x for pair in homonyms for x in pair}
    typos = {}
    cands = [p for p in main if p not in homonym_ids]
    rng.shuffle(cands)
    for pid in cands:
        if len(typos) >= TYPOS:
            break
        t = _typo(rng, names[pid])
        if fold(t) not in used and t not in typos:
            typos[t] = pid

    # --- bindings, clean then dirt ----------------------------------
    label = dict(names) | inames
    otype = {pid: "human" for pid in pids} | {iid: INSTITUTION_TYPE for iid in iids}
    # persons whose label carries control characters in every row
    ctrl_ids = set(rng.sample(main, CONTROL_CHARS))

    def shown(x: str) -> str:
        if x not in ctrl_ids:
            return label[x]
        first, _, rest = label[x].partition(" ")
        return f"{first}\t{rest}\r\n"

    rows: dict[str, list[dict]] = {r: [] for r in RELATIONS}
    # a birth year reaches the node table from every valid row whose
    # subject is the person, duplicates included
    subjects = {p for p, _, _ in edges}
    for p, rel, o in edges:
        rows[rel].append(_binding(p, shown(p), o, shown(o), otype[o], year[p]))
    for rel in RELATIONS:
        rng.shuffle(rows[rel])

    human_rels = ("spouse", "child", "influenced_by")
    spouse_edges = [e for e in edges if e[1] == "spouse"]
    dirt = {"exact_duplicates": 0, "reverse_duplicates": 0, "malformed_uris": 0,
            "unresolved_labels": 0}
    for p, rel, o in rng.sample(edges, EXACT_DUPS):
        rows[rel].append(_binding(p, shown(p), o, shown(o), otype[o], year[p]))
        dirt["exact_duplicates"] += 1
    reverse_rows = set()
    for p, rel, o in rng.sample(spouse_edges, min(REVERSE_DUPS, len(spouse_edges))):
        rows[rel].append(_binding(o, shown(o), p, shown(p), "human", year[o]))
        reverse_rows.add((o, rel, p))
        dirt["reverse_duplicates"] += 1
        subjects.add(o)
    bad_uris = ["not-a-uri", ENTITY + "P{n}", ENTITY + "L{n}-S1", ENTITY + "Q{n}x"]
    for i in range(MALFORMED_URIS):
        a, b = rng.sample(main, 2)
        bad = rng.choice(bad_uris).format(n=rng.randint(1, 99999))
        rel = rng.choice(human_rels)
        if i % 2:
            rows[rel].append(_binding(bad, "Junk Entry", b, shown(b), "human", 1900))
        else:
            rows[rel].append(_binding(a, shown(a), bad, "Junk Entry", "human", year[a]))
        dirt["malformed_uris"] += 1
    for i in range(UNRESOLVED_LABELS):
        a, b = rng.sample(main, 2)
        rel = rng.choice(human_rels)
        if i % 2:
            rows[rel].append(_binding(a, a, b, shown(b), "human", year[a]))
        else:
            rows[rel].append(_binding(a, shown(a), b, b, "human", year[a]))
        dirt["unresolved_labels"] += 1

    dirt["control_char_rows"] = sum(
        1 for r in rows.values() for x in r
        if any(ch in x["personLabel"]["value"] + x["objectLabel"]["value"] for ch in "\t\r\n")
    )
    raw_bytes = 0
    n_bindings = 0
    files = []
    for rel in RELATIONS:
        rng.shuffle(rows[rel])
        path = os.path.join(out_dir, f"raw_data_{rel}.json")
        doc = {
            "head": {"vars": ["person", "personLabel", "personSubType", "object",
                              "objectLabel", "objectSubType", "birthYear"]},
            "results": {"bindings": rows[rel]},
        }
        with open(path, "w", encoding="utf-8") as f:
            json.dump(doc, f, ensure_ascii=False)
        raw_bytes += os.path.getsize(path)
        n_bindings += len(rows[rel])
        files.append(path)

    # --- ground truth after cleaning --------------------------------
    endpoints = {x for p, _, o in edges for x in (p, o)}
    per_type: dict[str, int] = {}
    for x in endpoints:
        per_type[otype[x]] = per_type.get(otype[x], 0) + 1
    indeg: dict[str, int] = {}
    for _, rel, o in edges:
        if rel == "educated_at":
            indeg[o] = indeg.get(o, 0) + 1
    truth = {
        "seed": seed,
        "size": {"persons": PERSONS, "communities": COMMUNITIES,
                 "institutions": INSTITUTIONS, "zipf_s": ZIPF_S},
        "files": [os.path.basename(f) for f in files],
        "raw_bytes": raw_bytes,
        "bindings": n_bindings,
        "edges": len(edges),
        "edges_per_relation": {r: sum(1 for e in edges if e[1] == r) for r in RELATIONS},
        "nodes": len(endpoints),
        "nodes_per_type": per_type,
        "dirt": dirt,
        "max_institution_in_degree": max(indeg.values()),
        "typos": typos,
        "homonyms": homonyms,
        "islands": islands,
        "persons": [p for p in pids if p in endpoints],
        "names": {x: label[x] for x in endpoints},
        "birth_year": {p: year[p] for p in pids if p in subjects},
        "community": {p: community[p] for p in pids if p in endpoints},
    }
    with open(os.path.join(out_dir, "truth.json"), "w", encoding="utf-8") as f:
        json.dump(truth, f, ensure_ascii=False)
    reversed_keys = {(min(p, o), max(p, o)) for p, rel, o in edges
                     if rel == "spouse" and (o, "spouse", p) in reverse_rows}
    truth["tables"] = _expected_tables(edges, reversed_keys, label, otype, year, subjects)
    return truth


def _expected_tables(edges, reversed_keys, label, otype, year, subjects) -> dict:
    """The warehouse the ETL must write for these raw files: one row
    per clean edge (a spouse edge that also arrived reversed survives
    in its (min, max) orientation) and one row per endpoint with a
    dense per-type ``pyg_id`` in id order."""
    erows = []
    for p, rel, o in edges:
        if rel == "spouse" and (min(p, o), max(p, o)) in reversed_keys:
            p, o = min(p, o), max(p, o)
        erows.append({"person": p, "person_label": label[p], "person_sub_type": "human",
                      "object": o, "object_label": label[o], "object_sub_type": otype[o],
                      "relationship_label": rel})
    persons = {r["person"] for r in erows}
    ids = sorted({x for r in erows for x in (r["person"], r["object"])})
    counter: dict[str, int] = {}
    nrows = []
    for x in ids:
        t = "human" if x in persons else otype[x]
        yr = year[x] if x in subjects else None
        nrows.append({"id": x, "name": label[x], "sub_type": "human" if x in persons else otype[x],
                      "type": t, "birth_year_arr": None if yr is None else [str(yr)],
                      "birth_year": yr, "pyg_id": counter.get(t, 0)})
        counter[t] = counter.get(t, 0) + 1
    return {"edges": erows, "nodes": nrows}


def write_warehouse(tables: dict, path: str) -> None:
    """Write the expected tables in the ETL's own parquet layout
    (nodes/ plus edges/ partitioned by relationship_label), so the
    serve and analytics workloads start from a ready warehouse without
    paying for an ETL run."""
    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    nodes = pa.Table.from_pylist(tables["nodes"], schema=pa.schema([
        ("id", pa.string()), ("name", pa.string()), ("sub_type", pa.string()),
        ("type", pa.string()), ("birth_year_arr", pa.list_(pa.field("element", pa.string(), False))),
        ("birth_year", pa.int32()), ("pyg_id", pa.int32()),
    ]))
    os.makedirs(os.path.join(path, "nodes"), exist_ok=True)
    pq.write_table(nodes, os.path.join(path, "nodes", "part-00000.parquet"))
    edges = pa.Table.from_pylist(tables["edges"], schema=pa.schema(
        [(c, pa.string()) for c in ("person", "person_label", "person_sub_type", "object",
                                    "object_label", "object_sub_type", "relationship_label")]))
    ds.write_dataset(edges, os.path.join(path, "edges"), format="parquet",
                     partitioning=["relationship_label"], partitioning_flavor="hive",
                     existing_data_behavior="overwrite_or_ignore")
