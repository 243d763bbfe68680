"""Seeded input generators for the benchmark workloads.

Everything is derived from one ``random.Random(seed)``: the same seed writes
byte-identical inputs. The program under test only ever reads the files
written here; the expected outputs (golden triples, planted reject counts,
per-delta table state) stay on the benchmark's side.

KG inputs follow the transcript schema of ``transcripts/generate.py``
(conv_id, turn_idx, role, text, tool, ts) and its five relation templates,
but with a tunable entity universe, typo rate, ``same_as`` chain depth,
out-of-vocabulary mentions and mega-thread share, and with golden triples.

Import inputs are ``|``-delimited CSVs shaped like ``examples/basic``
(Person tag, FOLLOWS edge) plus delta slices, each with the exact table
state it must leave behind.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass
from datetime import datetime, timedelta
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

PREDICATES = ["works_at", "lives_in", "knows", "uses", "founded"]
TEMPLATES = {
    "works_at": "{s} works at {o}.",
    "lives_in": "{s} lives in {o}.",
    "knows": "{s} knows {o}.",
    "uses": "{s} uses {o}.",
    "founded": "{s} founded {o}.",
}
FILLERS = [
    "ok let me check the logs for that run",
    "the build finished without errors",
    "can you rerun the job with more partitions",
    "that looks right to me",
    "the shuffle stage is spilling again",
    "we should broadcast the small table",
    "thanks that fixed it",
    "the watermark lags behind by two minutes",
]
ROLES = ["user", "assistant", "tool"]
TOOLS = ["search", "bash", "python", "browser"]

# Dictionary names never contain j, q, x or z; out-of-vocabulary mentions are
# built from exactly those letters, so no alias shares a character shingle
# with them and fuzzy linking cannot rescue them: they are planted rejects.
_ONSETS = ["b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p", "r", "s",
           "t", "v", "w", "br", "dr", "gr", "st", "tr", "sh", "ch", "pl"]
_VOWELS = ["a", "e", "i", "o", "u", "ai", "ou", "ea"]
_OOV_LETTERS = "jqxz"
_ORG_SUFFIX = ["Labs", "Corp", "Systems", "Group", "Works"]


@dataclass(frozen=True)
class KgSpec:
    n_turns: int
    n_persons: int
    n_orgs: int
    n_places: int
    n_tools: int
    typo_rate: float  # share of mentions with a one-char deletion
    dup_rate: float  # share of entities with duplicate ids
    chain: int  # duplicate ids per duplicated entity (same_as hops)
    oov_rate: float  # share of relations whose object is out of vocabulary
    mega_share: float  # share of turns in the one mega-thread
    turns_per_conv: int = 20
    relation_rate: float = 0.6


def _word(rng: random.Random, syllables: int) -> str:
    return "".join(rng.choice(_ONSETS) + rng.choice(_VOWELS) for _ in range(syllables))


def _unique_words(rng: random.Random, n: int, syllables: int, taken: set[str]) -> list[str]:
    out = []
    while len(out) < n:
        w = _word(rng, syllables)
        if w not in taken:
            taken.add(w)
            out.append(w.capitalize())
    return out


def _typo(rng: random.Random, s: str) -> str:
    i = rng.randrange(1, len(s) - 1)
    return s[:i] + s[i + 1 :]


def _norm(s: str) -> str:
    return " ".join(s.lower().split())


def _write(path: Path, columns: dict[str, list], types: dict[str, pa.DataType]) -> None:
    table = pa.table({c: pa.array(v, type=types[c]) for c, v in columns.items()})
    pq.write_table(table, path)


def gen_kg(out: Path, seed: int, spec: KgSpec, warm_turns: int) -> dict:
    """Write transcripts/aliases/same_as/golden parquet files under ``out``,
    plus ``warmup.parquet``: the first ``warm_turns`` turns on disk, for the
    set-up run. Returns the counts the checks need."""
    rng = random.Random(seed)
    out.mkdir(parents=True, exist_ok=True)
    taken: set[str] = set()

    alias_owner: dict[str, str] = {}  # normalized alias -> entity id
    alias_rows: list[tuple[str, str]] = []
    same_as_rows: list[tuple[str, str]] = []
    aliases_of: dict[str, list[str]] = {}

    def add(eid: str, aliases: list[str]) -> None:
        ids = [eid]
        if rng.random() < spec.dup_rate:
            ids += [f"{eid}__dup{k}" for k in range(1, spec.chain + 1)]
            same_as_rows.extend(zip(ids, ids[1:]))
        mine = []
        for a in aliases:
            if _norm(a) in alias_owner:
                continue  # keep every alias unambiguous
            owner = ids[len(mine) % len(ids)]
            alias_owner[_norm(a)] = owner
            alias_rows.append((a, owner))
            mine.append(a)
        aliases_of[eid] = mine

    firsts = _unique_words(rng, max(8, int(spec.n_persons ** 0.5) * 2), 2, taken)
    lasts = _unique_words(rng, max(8, int(spec.n_persons ** 0.5) * 2), 3, taken)
    persons, pairs = [], set()
    while len(persons) < spec.n_persons:
        f, last = rng.choice(firsts), rng.choice(lasts)
        if (f, last) in pairs:
            continue
        pairs.add((f, last))
        eid = f"person:{f.lower()}_{last.lower()}"
        add(eid, [f"{f} {last}", f"{f[0]} {last}", f"{f} {last[0]}"])
        persons.append(eid)
    orgs = []
    for w in _unique_words(rng, spec.n_orgs, 3, taken):
        sfx = rng.choice(_ORG_SUFFIX)
        eid = f"org:{w.lower()}_{sfx.lower()}"
        add(eid, [f"{w} {sfx}", w, f"{w} {sfx[0]}"])
        orgs.append(eid)
    places = []
    for w in _unique_words(rng, spec.n_places, 3, taken):
        eid = f"place:{w.lower()}"
        add(eid, [w, f"{w} City", f"Port {w}"])
        places.append(eid)
    tools = []
    for w in _unique_words(rng, spec.n_tools, 2, taken):
        eid = f"tool:{w.lower()}"
        add(eid, [w, f"{w} DB", f"{w} SDK"])
        tools.append(eid)
    pool = {"works_at": orgs, "lives_in": places, "knows": persons,
            "uses": tools, "founded": orgs}

    def mention(eid: str) -> str:
        a = rng.choice(aliases_of[eid])
        if len(a) >= 4 and rng.random() < spec.typo_rate:
            t = _typo(rng, a)
            if _norm(t) not in alias_owner:
                return t
        return a

    n_mega = int(spec.n_turns * spec.mega_share)
    n_convs = max(1, (spec.n_turns - n_mega) // spec.turns_per_conv)
    conv_of = [0] * n_mega + [1 + rng.randrange(n_convs) for _ in range(spec.n_turns - n_mega)]
    next_idx = [0] * (n_convs + 1)
    conv_ids, turn_idxs, roles, texts, tool_col, ts = [], [], [], [], [], []
    golden: set[tuple] = set()
    surface = 0
    oov = 0
    base = datetime(2026, 1, 1)
    for c in conv_of:
        conv = f"conv_{c:06d}"
        i = next_idx[c]
        next_idx[c] += 1
        sentences = [rng.choice(FILLERS)]
        if rng.random() < spec.relation_rate:
            for _ in range(rng.randrange(1, 3)):
                pred = rng.choice(PREDICATES)
                subj, obj = rng.choice(persons), rng.choice(pool[pred])
                if pred == "knows" and obj == subj:
                    continue
                s_m = mention(subj)
                if rng.random() < spec.oov_rate:
                    o_m = "".join(rng.choice(_OOV_LETTERS) for _ in range(6)).capitalize()
                    oov += 1
                else:
                    o_m = mention(obj)
                    golden.add((conv, i, subj, pred, obj))
                sentences.append(TEMPLATES[pred].format(s=s_m, o=o_m))
                surface += 1
        role = rng.choice(ROLES)
        conv_ids.append(conv)
        turn_idxs.append(i)
        roles.append(role)
        texts.append(" ".join(sentences))
        tool_col.append(rng.choice(TOOLS) if role == "tool" else None)
        ts.append(base + timedelta(seconds=c * 100_000 + i * 30))

    order = list(range(spec.n_turns))
    rng.shuffle(order)  # on-disk order is not turn order
    s, i32, t = pa.string(), pa.int32(), pa.timestamp("us")
    for name, rows in (("transcripts", order), ("warmup", order[:warm_turns])):
        _write(out / f"{name}.parquet",
               {"conv_id": [conv_ids[k] for k in rows],
                "turn_idx": [turn_idxs[k] for k in rows],
                "role": [roles[k] for k in rows],
                "text": [texts[k] for k in rows],
                "tool": [tool_col[k] for k in rows],
                "ts": [ts[k] for k in rows]},
               {"conv_id": s, "turn_idx": i32, "role": s, "text": s, "tool": s, "ts": t})
    _write(out / "aliases.parquet",
           {"alias": [a for a, _ in alias_rows], "entity_id": [e for _, e in alias_rows]},
           {"alias": s, "entity_id": s})
    _write(out / "same_as.parquet",
           {"entity_id": [a for a, _ in same_as_rows], "dup_id": [b for _, b in same_as_rows]},
           {"entity_id": s, "dup_id": s})
    g = sorted(golden)
    _write(out / "golden.parquet",
           {k: [r[j] for r in g] for j, k in enumerate(("conv_id", "turn_idx", "subj", "pred", "obj"))},
           {"conv_id": s, "turn_idx": i32, "subj": s, "pred": s, "obj": s})
    return {"turns": spec.n_turns, "golden": len(g), "surface_relations": surface,
            "oov_relations": oov, "aliases": len(alias_rows), "same_as": len(same_as_rows)}


# ---------------------------------------------------------------------------
# import_csv: bulk CSVs + delta slices
# ---------------------------------------------------------------------------

_CITIES = ["London", "Paris", "Lagos", "Lima", "Oslo", "Seoul", "Quito", "Cairo"]
# rows the Person filter drops (filter: Record[5] != "archived")
_ARCHIVED = "archived"


@dataclass(frozen=True)
class ImportSpec:
    n_people: int
    n_follows: int
    delta_share: float = 0.01
    malformed_share: float = 0.002
    null_key_share: float = 0.002
    filtered_share: float = 0.01
    null_city_share: float = 0.05
    delta_rounds: int = 2  # rounds of (INSERT, UPDATE, DELETE) deltas


def _person_line(rng: random.Random, pid: str, city: str | None = None) -> str:
    first = _word(rng, 2).capitalize()
    last = _word(rng, 3).capitalize()
    born = (datetime(1950, 1, 1) + timedelta(days=rng.randrange(20000))).date()
    city = city if city is not None else rng.choice(_CITIES)
    return f"{pid}|{first}|{last}|{born}|{city}|active"


def _yaml(space: str, sources: list[dict]) -> str:
    """A v3 config shaped like examples/basic/import.v3.yaml. JSON is valid
    YAML, so the structure is emitted as JSON."""
    cfg = {
        "client": {"version": "v3"},
        "manager": {"spaceName": space, "batch": 128, "readerConcurrency": 4,
                    "importerConcurrency": 4, "statsInterval": "600s"},
        # warn: at info every Pipeline.run logs its plans, and timing
        # would measure log volume
        "log": {"level": "warn", "console": True},
        "sources": sources,
    }
    return json.dumps(cfg, indent=1)


def _person_tag(mode: str, props: list[str]) -> dict:
    allp = {
        "firstName": {"name": "firstName", "type": "STRING", "index": 1},
        "lastName": {"name": "lastName", "type": "STRING", "index": 2},
        "birthday": {"name": "birthday", "type": "DATE", "index": 3},
        "city": {"name": "city", "type": "STRING", "index": 4, "nullable": True,
                 "nullValue": "_NULL_", "defaultValue": "unknown"},
    }
    return {"name": "Person", "mode": mode, "id": {"type": "STRING", "index": 0},
            "filter": {"expr": f'Record[5] != "{_ARCHIVED}"'},
            "props": [allp[p] for p in props]}


def _follow_edge(mode: str) -> dict:
    return {"name": "FOLLOWS", "mode": mode,
            "src": {"id": {"type": "STRING", "index": 0}},
            "dst": {"id": {"type": "STRING", "index": 1}},
            "rank": {"index": 3},
            "props": [{"name": "since", "type": "INT", "index": 2}]}


def _source(path: Path, tags=(), edges=()) -> dict:
    return {"path": str(path), "csv": {"delimiter": "|", "comment": "#"},
            "tags": list(tags), "edges": list(edges)}


def gen_import(out: Path, seed: int, spec: ImportSpec, space: str) -> dict:
    """Write the bulk CSVs + config, and ``spec.delta_rounds`` rounds of an
    INSERT-upsert, an UPDATE and a DELETE delta CSV + config, in that order.

    Returns a plan: bulk config path, source row count, the planted
    written/rejected counts, and per delta its config path and the exact
    state it must leave (table row counts, sampled keys with their city or
    their absence)."""
    rng = random.Random(seed)
    out = out.resolve()  # config paths resolve against the config's dir
    out.mkdir(parents=True, exist_ok=True)
    people: dict[str, str] = {}  # vid -> city as stored
    lines = ["# id|firstName|lastName|birthday|city|status"]
    # Exact planted counts at seeded row positions (never row 0: the reader
    # sizes rows from the first data row), so shares do not vary by seed.
    def plant(n_rows: int, shares: dict[str, float]) -> dict[int, str]:
        picks = rng.sample(range(1, n_rows), sum(int(n_rows * v) for v in shares.values()))
        kinds = [k for k, v in shares.items() for _ in range(int(n_rows * v))]
        return dict(zip(picks, kinds))

    bad = plant(spec.n_people, {"malformed": spec.malformed_share,
                                "null_key": spec.null_key_share,
                                "filtered": spec.filtered_share})
    for k in range(spec.n_people):
        pid = f"p{k:07d}"
        kind = bad.get(k)
        if kind == "malformed":
            lines.append(f"{pid}|broken|row|with|too|many|fields|x")
        elif kind == "null_key":
            lines.append("|" + _person_line(rng, "").split("|", 1)[1])
        elif kind == "filtered":
            lines.append(_person_line(rng, pid).rsplit("|", 1)[0] + f"|{_ARCHIVED}")
        elif rng.random() < spec.null_city_share:
            lines.append(_person_line(rng, pid, "_NULL_"))
            people[pid] = "unknown"  # nullValue -> defaultValue
        else:
            line = _person_line(rng, pid)
            lines.append(line)
            people[pid] = line.split("|")[4]
    (out / "people.csv").write_text("\n".join(lines) + "\n")

    pids = sorted(people)
    follows: set[tuple[str, str, int]] = set()
    fbad = plant(spec.n_follows, {"malformed": spec.malformed_share,
                                  "null_key": spec.null_key_share})
    flines = []
    while len(flines) < spec.n_follows:
        kind = fbad.get(len(flines))
        src, dst, rank = rng.choice(pids), rng.choice(pids), rng.randrange(3)
        if kind == "malformed":
            flines.append("only|two")
        elif kind == "null_key":
            flines.append(f"|{dst}|{rng.randrange(1990, 2026)}|{rank}")
        elif (src, dst, rank) not in follows:
            follows.add((src, dst, rank))
            flines.append(f"{src}|{dst}|{rng.randrange(1990, 2026)}|{rank}")
    (out / "follows.csv").write_text("\n".join(flines) + "\n")
    planted = {f"person_{k}": sum(v == k for v in bad.values())
               for k in ("malformed", "null_key", "filtered")}
    planted.update({f"follow_{k}": sum(v == k for v in fbad.values())
                    for k in ("malformed", "null_key")})

    bulk_cfg = out / "bulk.yaml"
    bulk_cfg.write_text(_yaml(space, [
        _source(out / "people.csv",
                tags=[_person_tag("INSERT", ["firstName", "lastName", "birthday", "city"])]),
        _source(out / "follows.csv", edges=[_follow_edge("INSERT")]),
    ]))
    text = pa.string()
    _write(out / "expected_person.parquet", {"vid": pids}, {"vid": text})
    fk = sorted(follows)
    _write(out / "expected_follows.parquet",
           {"src": [f[0] for f in fk], "dst": [f[1] for f in fk], "rank": [f[2] for f in fk]},
           {"src": text, "dst": text, "rank": pa.int64()})
    source_rows = (len(lines) - 1) + len(flines)
    rejected = sum(v for k, v in planted.items() if not k.endswith("filtered"))
    written = len(people) + len(follows)

    # INSERT-upsert (Person), UPDATE (Person city), DELETE (FOLLOWS), once per
    # round; each touches ~delta_share of the keys of its table, and each
    # expects the state the deltas before it left.
    deltas = []
    n_slice = max(1, int(len(pids) * spec.delta_share))
    next_new = spec.n_people
    for d, kind in enumerate(("insert", "update", "delete") * spec.delta_rounds):
        path = out / f"delta_{d:02d}.csv"
        sample: dict[str, object] = {}
        if kind in ("insert", "update"):
            keys = rng.sample(sorted(people), n_slice)
            dl = []
            if kind == "insert":
                # upsert existing keys, plus a few brand-new ones
                new = [f"p{next_new + k:07d}" for k in range(max(1, n_slice // 10))]
                next_new += len(new)
                for pid in keys + new:
                    city = rng.choice(_CITIES) + f"_d{d}"
                    dl.append(_person_line(rng, pid, city))
                    people[pid] = city
                cols = ["firstName", "lastName", "birthday", "city"]
            else:
                for pid in keys:
                    city = rng.choice(_CITIES) + f"_d{d}"
                    dl.append(f"{pid}|x|x|2000-01-01|{city}|active")
                    people[pid] = city
                cols = ["city"]
            path.write_text("\n".join(dl) + "\n")
            cfg = _yaml(space, [_source(path, tags=[_person_tag(kind.upper(), cols)])])
            sample = {pid: people[pid] for pid in rng.sample(keys, min(20, len(keys)))}
            table = "tags/Person"
        else:
            gone = rng.sample(sorted(follows), max(1, int(len(follows) * spec.delta_share)))
            follows.difference_update(gone)
            path.write_text("\n".join(f"{s}|{t}|0|{r}" for s, t, r in gone) + "\n")
            cfg = _yaml(space, [_source(path, edges=[_follow_edge("DELETE")])])
            sample = {f"{s}|{t}|{r}": None for s, t, r in rng.sample(gone, min(20, len(gone)))}
            table = "edges/FOLLOWS"
        cfg_path = out / f"delta_{d:02d}.yaml"
        cfg_path.write_text(cfg)
        deltas.append({"config": str(cfg_path), "kind": kind, "table": table,
                       "rows": len(path.read_text().splitlines()),
                       "counts": {"tags/Person": len(people), "edges/FOLLOWS": len(follows)},
                       "sample": sample})
    return {"config": str(bulk_cfg), "source_rows": source_rows, "written": written,
            "rejected": rejected, "filtered": planted["person_filtered"],
            "planted": planted, "persons": len(pids), "follows": written - len(pids),
            "deltas": deltas}
