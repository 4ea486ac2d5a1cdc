"""Seeded ORD corpus generator for the benchmark.

Writes gzipped ORD ``Dataset`` protobufs with the package's public
encoder (``orderly_spark.sources.ord_wire``), so the extract stage reads
the same wire format a user feeds it. Nothing here touches Spark.

Two molecule regimes:

- ``reuse``: reactants and products are Zipf-drawn from a small
  vocabulary, so the same SMILES recur across reactions (USPTO-like);
- ``unique``: every reactant and product is freshly generated, so the
  SMILES are nearly all distinct.

Conditions come from the packaged solvent table plus a few agents, in
both regimes, with frequencies far above the clean stage's rare-molecule
threshold. Planted rows make the clean stages drop work:

- exact duplicate reactions (dedup);
- one-off condition molecules (rare-molecule pruning);
- reaction strings without exactly two ``>``; the decoder sets them to
  NULL and the row keeps no reactants (core-component check);
- numeric identifiers among the labelled inputs (extract's P7 filter
  and the molecule-name side output);
- reactant set equal to the product set;
- a yield above 100 (yield consistency);
- three solvents where the clean default keeps two (trim).

From the root of a checkout::

    PYTHONPATH=. python3 perfbench/corpus.py REACTIONS FILES DIRS reuse|unique SEED OUT_DIR

writes a corpus and prints its description as JSON.
"""

from __future__ import annotations

import bisect
import csv
import itertools
import json
import random
import sys
from dataclasses import asdict, dataclass, field
from pathlib import Path

from orderly_spark.sources import ord_wire as W

# ORD enum values used below (reaction.proto)
_ROLE_REACTANT = 1
_ROLE_SOLVENT = 3
_ID_SMILES = 2
_TEMP_CELSIUS = 1
_TIME_HOUR = 1

# Chain fragments that join into valid SMILES in any order: every ring
# closes inside its own fragment, so the ring digit can repeat.
_BACKBONE = (
    "C", "CC", "C(C)", "C(O)", "C(=O)", "N", "O", "S", "C(N)", "C(F)(F)",
    "C(Cl)", "c1ccc(cc1)", "c1ccc(nc1)", "C1CCC(CC1)",
)
_CAPS = ("C", "O", "N", "F", "Cl", "Br", "C#N", "C(=O)O", "C(=O)N", "c1ccccc1", "OC")
# condition agents; solvents come from the packaged table
_AGENTS = ("[Pd]", "[Na+]", "[OH-]", "[Cu]", "O=C([O-])[O-]", "[K+]", "[H][H]", "[Li+]")

_SOLVENTS_CSV = Path(__file__).resolve().parents[1] / "orderly_spark" / "data" / "solvents.csv"


@dataclass(frozen=True)
class CorpusSpec:
    n_reactions: int
    n_files: int
    n_dirs: int
    reuse: str  # "reuse" or "unique"
    vocab: int = 150
    zipf_s: float = 1.1
    n_solvents: int = 6
    n_agents: int = 4
    p_dup: float = 0.05
    p_rare: float = 0.03
    p_invalid: float = 0.02
    p_numeric: float = 0.02
    p_same: float = 0.02
    p_yield: float = 0.02
    p_trim: float = 0.02


@dataclass
class Corpus:
    root: str
    spec: dict
    reactions: int = 0
    files: int = 0
    bytes_on_disk: int = 0
    distinct_molecule_share: float = 0.0
    planted: dict = field(default_factory=dict)


def _molecule(rng: random.Random) -> str:
    n = rng.randint(2, 7)
    return "".join(rng.choice(_BACKBONE) for _ in range(n)) + rng.choice(_CAPS)


def _solvent_smiles() -> list[str]:
    with open(_SOLVENTS_CSV, newline="") as fh:
        return sorted({r["smiles"] for r in csv.DictReader(fh) if r.get("smiles")})


class _Zipf:
    def __init__(self, items: list[str], s: float):
        self.items = items
        weights = [1.0 / (k ** s) for k in range(1, len(items) + 1)]
        self.cum = list(itertools.accumulate(weights))

    def draw(self, rng: random.Random) -> str:
        u = rng.random() * self.cum[-1]
        return self.items[bisect.bisect_left(self.cum, u)]


def _encode(rxn: dict) -> bytes:
    inputs = []
    for i, smi in enumerate(rxn["labelled_reactants"]):
        inputs.append((f"reactant_{i}", [W.encode_compound([(_ID_SMILES, smi)], _ROLE_REACTANT)]))
    for i, smi in enumerate(rxn["solvents"]):
        inputs.append((f"solvent_{i}", [W.encode_compound([(_ID_SMILES, smi)], _ROLE_SOLVENT)]))
    return W.encode_reaction(
        cxsmiles=rxn["rxn_str"],
        is_mapped=False,
        inputs=inputs,
        products=[(rxn["product"], rxn["yield"])],
        time_value=rxn["hours"],
        time_units=_TIME_HOUR,
        temp_value=rxn["celsius"],
        temp_units=_TEMP_CELSIUS,
        procedure_details="The mixture was stirred and concentrated.",
        experiment_start=rxn["date"],
    )


def generate(spec: CorpusSpec, seed: int, root: Path) -> Corpus:
    """Write the corpus under ``root`` and describe it. Same spec and
    seed give byte-identical files."""
    rng = random.Random(f"ord-corpus:{seed}:{spec.reuse}")
    solvents = rng.sample(_solvent_smiles(), spec.n_solvents)
    agents = list(_AGENTS[: spec.n_agents])
    if spec.reuse == "reuse":
        vocab = []
        while len(vocab) < spec.vocab:
            m = _molecule(rng)
            if m not in vocab:
                vocab.append(m)
        zipf = _Zipf(vocab, spec.zipf_s)
        mol = zipf.draw
    elif spec.reuse == "unique":
        mol = _molecule
    else:
        raise ValueError(f"reuse must be 'reuse' or 'unique', got {spec.reuse!r}")

    planted = dict.fromkeys(("dup", "rare", "invalid", "numeric", "same", "yield", "trim"), 0)
    rows: list[dict] = []
    occurrences: list[str] = []
    for i in range(spec.n_reactions):
        u = rng.random()
        if rows and u < spec.p_dup:
            planted["dup"] += 1
            rows.append(rng.choice(rows))
            occurrences += rows[-1]["molecules"]
            continue
        reactants = [mol(rng) for _ in range(rng.choice((1, 2, 2)))]
        product = mol(rng)
        solv = [rng.choice(solvents)] + ([rng.choice(solvents)] if rng.random() < 0.3 else [])
        ag = [rng.choice(agents)] if rng.random() < 0.7 else []
        yld = round(rng.uniform(5.0, 95.0), 1)
        labelled = list(reactants)
        kind = rng.random()
        edges = itertools.accumulate(
            (spec.p_rare, spec.p_invalid, spec.p_numeric, spec.p_same, spec.p_yield, spec.p_trim)
        )
        plant = next(
            (k for k, e in zip(("rare", "invalid", "numeric", "same", "yield", "trim"), edges) if kind < e),
            None,
        )
        if plant == "rare":
            ag.append(f"[Zn]{_molecule(rng)}{i}")  # unique string, frequency 1
        elif plant == "numeric":
            labelled.append(str(rng.randint(1, 99)))
        elif plant == "same":
            product = reactants[0]
            reactants = reactants[:1]
        elif plant == "yield":
            yld = 150.0
        elif plant == "trim":
            solv = rng.sample(solvents, 3)
        if plant:
            planted[plant] += 1
        cond = ".".join(sorted(set(solv)) + ag)
        rxn_str = f"{'.'.join(reactants)}>{cond}>{product}"
        if plant == "invalid":
            rxn_str = f"{'.'.join(reactants)}>{product}"
            labelled = []  # nothing to fall back on: no reactants survive
        occurrences += reactants + [product]
        rows.append(
            {
                "molecules": reactants + [product],
                "rxn_str": rxn_str,
                "labelled_reactants": labelled,
                "solvents": sorted(set(solv)),
                "product": product,
                "yield": yld,
                "hours": float(rng.choice((1, 2, 4, 16, 24))),
                "celsius": float(rng.choice((0, 25, 60, 80, 100))),
                "date": f"{rng.randint(1, 12):02d}/{rng.randint(1, 28):02d}/{rng.randint(1990, 2016)}",
            }
        )

    root.mkdir(parents=True, exist_ok=True)
    per_file = -(-len(rows) // spec.n_files)
    total = 0
    n_files = 0
    for f in range(spec.n_files):
        chunk = rows[f * per_file : (f + 1) * per_file]
        if not chunk:
            break
        d = root / f"ord_data_{f % spec.n_dirs:02d}"
        d.mkdir(exist_ok=True)
        year, month = 1976 + f // 12, f % 12 + 1
        path = d / f"uspto-grants-{year}_{month:02d}.pb.gz"
        blob = W.dataset_pb_gz([_encode(r) for r in chunk], name=path.name)
        path.write_bytes(blob)
        total += len(blob)
        n_files += 1
    return Corpus(
        root=str(root),
        spec=asdict(spec),
        reactions=len(rows),
        files=n_files,
        bytes_on_disk=total,
        distinct_molecule_share=len(set(occurrences)) / max(len(occurrences), 1),
        planted=planted,
    )


if __name__ == "__main__":
    n, files, dirs, reuse, seed, out = sys.argv[1:7]
    corpus = generate(CorpusSpec(int(n), int(files), int(dirs), reuse), int(seed), Path(out))
    print(json.dumps(asdict(corpus)))
