"""Seeded input generators. Each returns the inputs plus the generator's
own record of what it made, which the correctness checks compare
against; sizes are fixed, so only values move with the seed."""

from __future__ import annotations

import json
import random
from dataclasses import dataclass, field
from decimal import Decimal
from pathlib import Path

SNOMED = "http://snomed.info/sct"
LOINC = "http://loinc.org"
RXNORM = "http://www.nlm.nih.gov/research/umls/rxnorm"
ICD10 = "http://hl7.org/fhir/sid/icd-10"

#: the five resource types every bundle may carry
TYPES = ("Patient", "Condition", "Encounter", "Observation", "MedicationRequest")


# -- FHIR bundles -------------------------------------------------------------


@dataclass
class Bundles:
    directory: Path
    input_bytes: int
    #: type → number of resources generated
    counts: dict[str, int]
    #: type → the generator's checksum of one field (see ``_sum_of``)
    sums: dict[str, Decimal]
    #: type → list of resource dicts, for the terminology evaluations
    resources: dict[str, list[dict]] = field(default_factory=dict)


def _cc(system: str, code: str) -> dict:
    return {"coding": [{"system": system, "code": code}], "text": code}


def write_bundles(
    rng: random.Random,
    directory: Path,
    patients: int,
    per_type: dict[str, int],
    condition_codes: list[str],
    observation_codes: list[str],
    medication_codes: list[str],
) -> Bundles:
    """One JSON collection bundle per patient. ``per_type`` fixes the
    TOTAL of each non-Patient type; resources are dealt to random
    patients, so totals never move with the seed."""
    directory.mkdir(parents=True, exist_ok=True)
    owner = {
        t: sorted(rng.randrange(patients) for _ in range(n)) for t, n in per_type.items()
    }
    res: dict[str, list[dict]] = {t: [] for t in TYPES}
    entries: list[list[dict]] = [[] for _ in range(patients)]
    for p in range(patients):
        pid = f"pat-{p}"
        year = 1930 + rng.randrange(80)
        r = {
            "resourceType": "Patient",
            "id": pid,
            "gender": rng.choice(["female", "male"]),
            "birthDate": f"{year}-{1 + rng.randrange(12):02d}-{1 + rng.randrange(28):02d}",
            "name": [{"family": f"Fam{p}", "given": [f"Given{p}"]}],
        }
        res["Patient"].append(r)
        entries[p].append(r)
    for t in TYPES[1:]:
        for i, p in enumerate(owner.get(t, [])):
            subj = {"reference": f"Patient/pat-{p}"}
            day = f"20{10 + rng.randrange(10)}-{1 + rng.randrange(12):02d}-{1 + rng.randrange(28):02d}"
            if t == "Condition":
                r = {
                    "resourceType": t,
                    "id": f"cond-{i}",
                    "clinicalStatus": "active",
                    "verificationStatus": "confirmed",
                    "code": _cc(SNOMED, rng.choice(condition_codes)),
                    "subject": subj,
                    "onsetDateTime": f"{day}T00:00:00Z",
                }
            elif t == "Encounter":
                r = {
                    "resourceType": t,
                    "id": f"enc-{i}",
                    "status": "finished",
                    "class": {"system": "http://hl7.org/fhir/v3/ActCode", "code": "AMB"},
                    "subject": subj,
                    "period": {"start": f"{day}T08:00:00Z", "end": f"{day}T09:00:00Z"},
                    "length": {"value": float(Decimal(rng.randrange(5, 600)) / 4), "unit": "min"},
                }
            elif t == "Observation":
                r = {
                    "resourceType": t,
                    "id": f"obs-{i}",
                    "status": "final",
                    "code": _cc(LOINC, rng.choice(observation_codes)),
                    "subject": subj,
                    "effectiveDateTime": f"{day}T10:30:00Z",
                    "valueQuantity": {
                        "value": float(Decimal(rng.randrange(100, 40000)) / 100),
                        "unit": "mg/dL",
                        "system": "http://unitsofmeasure.org",
                        "code": "mg/dL",
                    },
                }
            else:
                r = {
                    "resourceType": t,
                    "id": f"med-{i}",
                    "status": "active",
                    "intent": "order",
                    "medicationCodeableConcept": _cc(RXNORM, rng.choice(medication_codes)),
                    "subject": subj,
                    "authoredOn": f"{day}T12:00:00Z",
                }
            res[t].append(r)
            entries[p].append(r)
    total = 0
    for p, ents in enumerate(entries):
        rng.shuffle(ents)
        doc = {"resourceType": "Bundle", "type": "collection", "entry": [{"resource": e} for e in ents]}
        data = json.dumps(doc, indent=1).encode()
        (directory / f"pat-{p}.bundle.json").write_bytes(data)
        total += len(data)
    return Bundles(
        directory,
        total,
        {t: len(v) for t, v in res.items()},
        {t: sum((_sum_of(t, r) for r in res[t]), Decimal(0)) for t in SUM_SQL},
        res,
    )


def _sum_of(t: str, r: dict) -> Decimal:
    """Per-type checksum field, the quantity ``SUM_SQL`` computes from
    the warehouse: the Condition code as an integer, the Observation
    value."""
    if t == "Condition":
        return Decimal(int(r["code"]["coding"][0]["code"]))
    return Decimal(str(r["valueQuantity"]["value"]))


#: warehouse-side twin of ``_sum_of`` (one SQL aggregate per table)
SUM_SQL = {
    "Condition": "sum(cast(code.coding[0].code AS bigint))",
    "Observation": "sum(value.quantity.value)",
}


# -- code hierarchy -----------------------------------------------------------


@dataclass
class Hierarchy:
    codes: list[str]
    #: (child, parent) is-a edges
    edges: list[tuple[str, str]]
    roots: list[str]
    #: one code on the planted cycle
    cycle_member: str


def snomed_like_hierarchy(rng: random.Random, n_codes: int, n_roots: int) -> Hierarchy:
    """A shallow DAG (depth ≤ 4 below the roots), about a tenth of the
    codes with a second, shallower parent, plus one planted 3-cycle.
    The first root owns over half the codes, so its descendant set is
    large."""
    codes = [str(100000 + 7 * i) for i in range(n_codes)]
    roots = codes[:n_roots]
    level = {c: 0 for c in roots}
    root = {c: c for c in roots}
    open_all, open_big = list(roots), [roots[0]]
    edges: list[tuple[str, str]] = []
    for c in codes[n_roots:]:
        pool = open_big if rng.random() < 0.6 else open_all
        parent = pool[rng.randrange(len(pool))]
        edges.append((c, parent))
        level[c], root[c] = level[parent] + 1, root[parent]
        if rng.random() < 0.1:
            other = open_all[rng.randrange(len(open_all))]
            if other != parent and level[other] < level[c]:
                edges.append((c, other))
        if level[c] < 4:
            open_all.append(c)
            if root[c] == roots[0]:
                open_big.append(c)
    # the cycle: three codes of the big root point at each other
    a, b, d = [c for c in codes[-60:] if root[c] == roots[0]][:3]
    edges += [(a, b), (b, d), (d, a)]
    return Hierarchy(codes, sorted(set(edges)), roots, a)


# -- documents and embeddings -------------------------------------------------


def near_dup_corpus(
    rng: random.Random, n_docs: int, dup_share: float, vocab: int
) -> list[tuple[int, str]]:
    """``n_docs`` word documents of 30–70 tokens; about ``dup_share`` of
    them are planted near-duplicates of an earlier ORIGINAL document
    (1–6 word substitutions, so Jaccard straddles the 0.5 threshold).
    Copying only originals keeps every near-dup component a star of
    diameter at most 2, so the clustering fixpoint runs the same number
    of rounds whatever the seed."""
    words = [f"w{i}" for i in range(vocab)]
    originals: list[list[str]] = []
    docs: list[list[str]] = []
    while len(docs) < n_docs:
        if originals and rng.random() < dup_share:
            base = list(rng.choice(originals))
            for _ in range(rng.randint(1, 6)):
                base[rng.randrange(len(base))] = rng.choice(words)
        else:
            base = [rng.choice(words) for _ in range(rng.randint(30, 70))]
            originals.append(base)
        docs.append(base)
    order = list(range(n_docs))
    rng.shuffle(order)
    return [(i, " ".join(docs[j])) for i, j in enumerate(order)]


def clustered_embeddings(seed: int, n: int, dim: int, clusters: int):
    """``n`` × ``dim`` vectors around ``clusters`` centres. Every value is
    a multiple of 1/256 in [-1, 1]: exact in float32, and every dot
    product of two vectors is exact in float64 whatever the summation
    order, so independent top-k references agree bit for bit."""
    import numpy as np

    g = np.random.default_rng(seed)
    centres = g.uniform(-0.7, 0.7, size=(clusters, dim))
    which = g.integers(0, clusters, size=n)
    raw = centres[which] + g.normal(0, 0.15, size=(n, dim))
    return np.clip(np.round(raw * 256), -256, 256) / 256.0


# -- terminology resources ----------------------------------------------------


def write_value_set(directory: Path, url: str, system: str, codes: list[str]) -> None:
    """One STU3 ValueSet resource file listing ``codes``."""
    directory.mkdir(parents=True, exist_ok=True)
    doc = {
        "resourceType": "ValueSet",
        "url": url,
        "version": "1",
        "status": "active",
        "experimental": False,
        "compose": {"include": [{"system": system, "concept": [{"code": c} for c in codes]}]},
    }
    (directory / f"valueset-{len(list(directory.iterdir()))}.json").write_text(json.dumps(doc))


def write_concept_map(directory: Path, url: str, rows: list[tuple[str, str, str, str, str]]) -> None:
    """One STU3 ConceptMap resource file from (source system, source
    code, target system, target code, equivalence) rows."""
    directory.mkdir(parents=True, exist_ok=True)
    groups: dict[tuple[str, str], dict[str, list]] = {}
    for ss, sv, ts, tv, eq in rows:
        groups.setdefault((ss, ts), {}).setdefault(sv, []).append({"code": tv, "equivalence": eq})
    doc = {
        "resourceType": "ConceptMap",
        "url": url,
        "version": "1",
        "status": "active",
        "experimental": False,
        "sourceUri": f"{url}/source",
        "targetUri": f"{url}/target",
        "group": [
            {"source": ss, "target": ts, "element": [{"code": sv, "target": t} for sv, t in el.items()]}
            for (ss, ts), el in groups.items()
        ],
    }
    (directory / f"conceptmap-{len(list(directory.iterdir()))}.json").write_text(json.dumps(doc))
