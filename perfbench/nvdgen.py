"""Seeded synthetic NVD JSON 1.1 yearly feeds and a MITRE CWE CSV.

The item shape follows ``tests/fixtures/nvd_feed_fixture.json`` and covers
each of its variants: V3+V2, V2-only, V3-only and no metric block; flat
``cpe_match`` nodes, ``children`` nodes (whose own ``cpe_match`` the
flattener ignores) and nodes with neither; cpe entries without a
``cpe23Uri``; one or two CWE labels, in one or two ``problemtype_data``
entries; one- to three-part descriptions, some with CR/LF/TAB.

Alongside the files the generator keeps the rows the flattener must
produce (``Corpus.rows``), so the benchmark checks its outputs against a
ground truth it never derived from the engine.
"""

from __future__ import annotations

import csv
import datetime
import json
import os
import random
from dataclasses import dataclass, field

from perfbench.check import relation_digest

FIRST_YEAR, LAST_YEAR = 2002, 2021

_V3_ENUMS = {
    "attackVector": ["NETWORK", "ADJACENT_NETWORK", "LOCAL", "PHYSICAL"],
    "attackComplexity": ["LOW", "HIGH"],
    "privilegesRequired": ["NONE", "LOW", "HIGH"],
    "userInteraction": ["NONE", "REQUIRED"],
    "scope": ["UNCHANGED", "CHANGED"],
    "confidentialityImpact": ["NONE", "LOW", "HIGH"],
    "integrityImpact": ["NONE", "LOW", "HIGH"],
    "availabilityImpact": ["NONE", "LOW", "HIGH"],
}
_V2_ENUMS = {
    "accessVector": ["NETWORK", "ADJACENT_NETWORK", "LOCAL"],
    "accessComplexity": ["LOW", "MEDIUM", "HIGH"],
    "authentication": ["NONE", "SINGLE", "MULTIPLE"],
    "confidentialityImpact": ["NONE", "PARTIAL", "COMPLETE"],
    "integrityImpact": ["NONE", "PARTIAL", "COMPLETE"],
    "availabilityImpact": ["NONE", "PARTIAL", "COMPLETE"],
}
_VENDORS = [f"vendor{i}" for i in range(60)]
_PRODUCTS = [f"product{i}" for i in range(40)]
_WORDS = (
    "buffer overflow allows remote attackers to execute arbitrary code via "
    "crafted request in the parser of the web interface cross site scripting "
    "sql injection improper input validation denial of service memory "
    "corruption privilege escalation authentication bypass information "
    "disclosure path traversal use after free integer overflow"
).split()
# The CVSS column order of operators.flatten.flatten_cvss.
CVSS_COLUMNS = (
    "cve attack_complexity_3 attack_vector_3 availability_impact_3 "
    "confidentiality_impact_3 integrity_impact_3 privileges_required_3 "
    "scope_3 user_interaction_3 vector_string_3 exploitability_score_3 "
    "impact_score_3 base_score_3 base_severity_3 access_complexity "
    "access_vector authentication availability_impact confidentiality_impact "
    "integrity_impact obtain_all_privileges obtain_other_privileges "
    "obtain_user_privileges user_interaction_required vector_string "
    "exploitability_score impact_score base_score severity description "
    "published_date last_modified_date"
).split()
_CWE_HEADER = (
    "CWE-ID,Name,Weakness Abstraction,Status,Description,Extended Description,"
    "Related Weaknesses,Weakness Ordinalities,Applicable Platforms,Background "
    "Details,Alternate Terms,Modes Of Introduction,Exploitation Factors,"
    "Likelihood of Exploit,Common Consequences,Detection Methods,Potential "
    "Mitigations,Observed Examples,Functional Areas,Affected Resources,Taxonomy "
    "Mappings,Related Attack Patterns,Notes"
).split(",")


@dataclass
class Corpus:
    """Files written plus the relations the engine must derive from them."""

    feed_dir: str
    cwe_csv: str
    n_cves: int
    feed_bytes: int
    rows: dict[str, list[tuple]] = field(default_factory=dict)

    def digests(self) -> dict[str, tuple[int, str]]:
        return {rel: relation_digest(rows) for rel, rows in self.rows.items()}


def _severity3(score: float) -> str:
    if score == 0.0:
        return "NONE"
    return "LOW" if score < 4.0 else "MEDIUM" if score < 7.0 else "HIGH" if score < 9.0 else "CRITICAL"


def _severity2(score: float) -> str:
    return "LOW" if score < 4.0 else "MEDIUM" if score < 7.0 else "HIGH"


def _score(rng: random.Random) -> float:
    return round(rng.uniform(1.0, 10.0), 1)


def _v3(rng: random.Random) -> dict:
    c = {k: rng.choice(v) for k, v in _V3_ENUMS.items()}
    c["vectorString"] = "CVSS:3.1/" + "/".join(f"{k[:2].upper()}:{v[0]}" for k, v in c.items())
    c["baseScore"] = _score(rng)
    c["baseSeverity"] = _severity3(c["baseScore"])
    return {
        "cvssV3": c,
        "exploitabilityScore": round(rng.uniform(0.1, 3.9), 1),
        "impactScore": round(rng.uniform(0.1, 6.0), 1),
    }


def _v2(rng: random.Random) -> dict:
    c = {k: rng.choice(v) for k, v in _V2_ENUMS.items()}
    c["vectorString"] = "/".join(f"{k[:2].upper()}:{v[0]}" for k, v in c.items())
    c["baseScore"] = _score(rng)
    m = {
        "cvssV2": c,
        "severity": _severity2(c["baseScore"]),
        "exploitabilityScore": round(rng.uniform(1.0, 10.0), 1),
        "impactScore": round(rng.uniform(1.0, 10.0), 1),
        "obtainAllPrivilege": rng.random() < 0.1,
        "obtainOtherPrivilege": rng.random() < 0.1,
        "obtainUserPrivilege": rng.random() < 0.2,
    }
    if rng.random() < 0.7:  # absent in some real items -> NULL column
        m["userInteractionRequired"] = rng.random() < 0.3
    return m


def _cpe_match(rng: random.Random) -> dict:
    uri = (
        f"cpe:2.3:{rng.choice('aoh')}:{rng.choice(_VENDORS)}:{rng.choice(_PRODUCTS)}:"
        f"{rng.randint(0, 9)}.{rng.randint(0, 20)}:*:*:*:*:*:*:*"
    )
    m = {"vulnerable": rng.random() < 0.8}
    if rng.random() < 0.97:  # entries without a uri are dropped by the flattener
        m["cpe23Uri"] = uri
    return m


def _node(rng: random.Random) -> tuple[dict, list[tuple]]:
    """One configuration node and the (cpe23Uri, vulnerable) pairs the
    reference's node walk emits for it."""
    kind = rng.random()
    if kind < 0.6:
        matches = [_cpe_match(rng) for _ in range(rng.randint(1, 4))]
        return {"operator": "OR", "cpe_match": matches}, _emitted(matches)
    if kind < 0.95:
        node = {"operator": "AND", "children": []}
        emitted: list[tuple] = []
        for _ in range(rng.randint(1, 2)):
            child = {"operator": "OR"}
            if rng.random() < 0.9:
                child["cpe_match"] = [_cpe_match(rng) for _ in range(rng.randint(1, 3))]
                emitted += _emitted(child["cpe_match"])
            node["children"].append(child)
        if rng.random() < 0.2:  # ignored: a node with children emits only theirs
            node["cpe_match"] = [_cpe_match(rng)]
        return node, emitted
    return {"operator": "OR"}, []


def _emitted(matches: list[dict]) -> list[tuple]:
    return [(m["cpe23Uri"], str(m["vulnerable"])) for m in matches if "cpe23Uri" in m]


def _description(rng: random.Random) -> list[dict]:
    parts = []
    for _ in range(rng.choices((1, 2, 3), (0.8, 0.15, 0.05))[0]):
        words = " ".join(rng.choice(_WORDS) for _ in range(rng.randint(8, 30)))
        if rng.random() < 0.05:
            words += rng.choice(("\r\n", "\t", "\n")) + "see advisory."
        parts.append({"lang": "en", "value": words + ". "})
    return parts


def _problems(rng: random.Random, cwe_ids: list[int]) -> tuple[list[dict], list[str]]:
    def label() -> str:
        r = rng.random()
        if r < 0.1:
            return "NVD-CWE-Other"
        if r < 0.2:
            return "NVD-CWE-noinfo"
        return f"CWE-{rng.choice(cwe_ids)}"

    n = rng.choices((1, 2), (0.75, 0.25))[0]
    labels = [label() for _ in range(n)]
    if n == 2 and rng.random() < 0.5:  # two labels in two problemtype_data entries
        data = [{"description": [{"lang": "en", "value": v}]} for v in labels]
    else:
        data = [{"description": [{"lang": "en", "value": v} for v in labels]}]
    return data, labels


def _item(rng: random.Random, cve: str, year: int, cwe_ids: list[int]) -> tuple[dict, dict]:
    published = datetime.date(year, 1, 1) + datetime.timedelta(days=rng.randint(0, 364))
    modified = published + datetime.timedelta(days=rng.randint(0, 900))
    problem_data, labels = _problems(rng, cwe_ids)
    desc = _description(rng)
    nodes, cpes = [], []
    for _ in range(rng.choices((0, 1, 2, 3), (0.15, 0.5, 0.25, 0.1))[0]):
        node, emitted = _node(rng)
        nodes.append(node)
        cpes += emitted
    impact = {}
    shape = rng.random()
    if shape < 0.6 or 0.8 <= shape < 0.9:
        impact["baseMetricV3"] = _v3(rng)
    if shape < 0.8:
        impact["baseMetricV2"] = _v2(rng)
    item = {
        "cve": {
            "CVE_data_meta": {"ID": cve, "ASSIGNER": "cve@mitre.org"},
            "problemtype": {"problemtype_data": problem_data},
            "description": {"description_data": desc},
        },
        "configurations": {"CVE_data_version": "4.0", "nodes": nodes},
        "publishedDate": f"{published.isoformat()}T{rng.randint(0, 23):02d}:15Z",
        "lastModifiedDate": f"{modified.isoformat()}T{rng.randint(0, 23):02d}:45Z",
        "impact": impact,
    }
    v3 = impact.get("baseMetricV3", {})
    c3 = v3.get("cvssV3", {})
    v2 = impact.get("baseMetricV2", {})
    c2 = v2.get("cvssV2", {})
    text = "".join(p["value"] for p in desc)
    cvss = (
        cve,
        c3.get("attackComplexity"), c3.get("attackVector"), c3.get("availabilityImpact"),
        c3.get("confidentialityImpact"), c3.get("integrityImpact"),
        c3.get("privilegesRequired"), c3.get("scope"), c3.get("userInteraction"),
        c3.get("vectorString"), v3.get("exploitabilityScore"), v3.get("impactScore"),
        c3.get("baseScore"), c3.get("baseSeverity"),
        c2.get("accessComplexity"), c2.get("accessVector"), c2.get("authentication"),
        c2.get("availabilityImpact"), c2.get("confidentialityImpact"),
        c2.get("integrityImpact"), v2.get("obtainAllPrivilege"),
        v2.get("obtainOtherPrivilege"), v2.get("obtainUserPrivilege"),
        v2.get("userInteractionRequired"), c2.get("vectorString"),
        v2.get("exploitabilityScore"), v2.get("impactScore"), c2.get("baseScore"),
        v2.get("severity"),
        text.replace("\r", " ").replace("\n", " ").replace("\t", " "),
        published, modified,
    )
    truth = {
        "cvss": [cvss],
        "cve_problem": [(cve, lab) for lab in labels],
        "cpe": [(cve, uri, vul) for uri, vul in cpes],
    }
    return item, truth


def _year_sizes(n_cves: int) -> dict[int, int]:
    """Yearly feed sizes growing with the year, as the real feeds do."""
    years = range(FIRST_YEAR, LAST_YEAR + 1)
    weights = [1 + (y - FIRST_YEAR) for y in years]
    total = sum(weights)
    return {y: max(1, n_cves * w // total) for y, w in zip(years, weights)}


def write_cwe_csv(path: str, cwe_ids: list[int], rng: random.Random) -> list[tuple]:
    """A MITRE ``1000.csv``-shaped catalog; returns the projected cwe rows
    ``sources.cwe_csv.read_cwe_csv`` must produce."""
    rows = []
    with open(path, "w", newline="", encoding="utf8") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(_CWE_HEADER)
        for cid in cwe_ids:
            name = f"Weakness {cid} ('{rng.choice(_WORDS)}, {rng.choice(_WORDS)}')"
            desc = f"The software does not {rng.choice(_WORDS)} the {rng.choice(_WORDS)}."
            ext = rng.choice(("", f'Extended, with a comma and "quotes" for {cid}.'))
            modes = rng.choice(("", "Phase: Implementation", "Phase: Architecture and Design"))
            cons = f"Confidentiality: {rng.choice(_WORDS)}"
            mitig = f"Phase: Implementation\nValidate {rng.choice(_WORDS)} input."
            rec = [str(cid), name, "Base", "Stable", desc, ext, f"ChildOf:{cid + 1}", "Primary",
                   "Languages: Any", "", "", modes, "", "High", cons, "", mitig,
                   f"CVE-2004-{cid:04d}", "", "", "", "", ""]
            w.writerow(rec)
            rows.append((cid, name, desc, ext or None, modes or None, cons, mitig))
    return rows


def generate(out_dir: str, seed: int, n_cves: int) -> Corpus:
    """Write ~20 yearly feeds (``nvdcve-1.1-<year>.json``) holding about
    ``n_cves`` items, plus ``cwe.csv``; return them with their ground truth."""
    rng = random.Random(seed)
    feed_dir = os.path.join(out_dir, "feeds")
    os.makedirs(feed_dir, exist_ok=True)
    cwe_ids = sorted(rng.sample(range(1, 1400), 400))
    truth: dict[str, list[tuple]] = {"cvss": [], "cve_problem": [], "cpe": []}
    feed_bytes = 0
    total = 0
    for year, n in _year_sizes(n_cves).items():
        items = []
        for seq in range(1, n + 1):
            item, rows = _item(rng, f"CVE-{year}-{seq:04d}", year, cwe_ids)
            items.append(item)
            for rel, r in rows.items():
                truth[rel] += r
        feed = {
            "CVE_data_type": "CVE",
            "CVE_data_format": "MITRE",
            "CVE_data_version": "4.0",
            "CVE_data_numberOfCVEs": str(n),
            "CVE_data_timestamp": f"{year}-12-31T08:00Z",
            "CVE_Items": items,
        }
        path = os.path.join(feed_dir, f"nvdcve-1.1-{year}.json")
        with open(path, "w", encoding="utf8") as f:
            json.dump(feed, f)
        feed_bytes += os.path.getsize(path)
        total += n
    cwe_csv = os.path.join(out_dir, "cwe.csv")
    truth["cwe"] = write_cwe_csv(cwe_csv, cwe_ids, rng)
    return Corpus(feed_dir, cwe_csv, total, feed_bytes, truth)
