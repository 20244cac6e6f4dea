"""Seeded generator of API-log corpora shaped like the paper's reference.

Layout and grammar follow FIXTURES.md section 1:

    <out>/clean_LOGS_CONVERTED/LOG_API (N)converted.txt   label 0
    <out>/virus_LOGS_CONVERTED/LOG_API (N)converted.txt   label 1

Each line is `<ApiName> -`; many files start with a bare ` -` line.
Line counts are lognormal (medians 43 clean / 77 virus, capped at
3889 / 5089). API presence is Zipfian and shared between the classes
with a small per-API tilt, so the best information gain lands near the
reference's 0.1-0.2 rather than near 0.5. A handful of APIs occur in
one class only, which exercises the inner-join drop of feature
selection.

Usage: python3 gen_corpus.py <out_dir> <seed> [scale]
"""
import os
import sys

import numpy as np

N_APIS = 125
N_CLEAN, N_VIRUS = 720, 884
MEDIAN = {"clean": 43, "virus": 77}
MAX_LINES = {"clean": 3889, "virus": 5089}
MIN_LINES = {"clean": 1, "virus": 4}
VIRUS_ONLY, CLEAN_ONLY = 5, 3
SHAPE_SEED = 2

_PARTS = ["Query", "Create", "Open", "Read", "Write", "Get", "Set", "Load",
          "Free", "Virtual", "Reg", "Nt", "Find", "Close", "Map", "Enum"]
_NOUNS = ["SystemInformation", "ProcessInformation", "Library", "Thread",
          "File", "Key", "Value", "Process", "Token", "Memory", "Section",
          "Window", "Module", "Handle", "Mutex", "Event", "Pipe", "Service",
          "Object", "KeyboardState", "DEPPolicy", "AllocEx", "ViewOfFile"]


def api_names(rng):
    names = ["QuerySystemInformation", "Sleep"]
    seen = set(names)
    while len(names) < N_APIS:
        n = rng.choice(_PARTS) + rng.choice(_NOUNS) + rng.choice(["", "A", "W", "Ex"])
        if n not in seen:
            seen.add(n)
            names.append(n)
    return names


def presence_probs(rng):
    """Per-class presence probability of each API (index = Zipf rank)."""
    rank = np.arange(1, N_APIS + 1)
    base = np.clip(1.1 / rank ** 0.55, 0.01, 0.97)
    tilt = rng.normal(0.0, 0.35, N_APIS)
    tilt[:12] += rng.choice([-1.0, 1.0], 12) * rng.uniform(0.3, 0.6, 12)
    virus = np.clip(base * np.exp(tilt / 2), 0.005, 0.97)
    clean = np.clip(base * np.exp(-tilt / 2), 0.005, 0.97)
    virus[0], clean[0] = 1.0, 0.9          # present in every virus file
    one_class = rng.choice(np.arange(20, N_APIS), VIRUS_ONLY + CLEAN_ONLY,
                           replace=False)
    v_only, c_only = one_class[:VIRUS_ONLY], one_class[VIRUS_ONLY:]
    virus[v_only], clean[v_only] = np.maximum(virus[v_only], 0.02), 0.0
    clean[c_only], virus[c_only] = np.maximum(clean[c_only], 0.02), 0.0
    return {"virus": virus, "clean": clean}


def write_class(rng, out, cls, n_files, names, probs):
    d = os.path.join(out, f"{cls}_LOGS_CONVERTED")
    os.makedirs(d, exist_ok=True)
    mu = np.log(MEDIAN[cls])
    counts = np.clip(np.round(rng.lognormal(mu, 1.0, n_files)),
                     MIN_LINES[cls], MAX_LINES[cls]).astype(int)
    weight = 1.0 / np.arange(1, N_APIS + 1) ** 0.8
    present_all = rng.random((n_files, N_APIS)) < probs[cls]
    for f in range(n_files):
        lines = []
        if rng.random() < 0.5:
            lines.append(" -")
        present = np.flatnonzero(present_all[f])
        n = counts[f] - len(lines)
        if len(present) and n > 0:
            w = weight[present] / weight[present].sum()
            # every present API occurs at least once when the file is long
            # enough; the rest of the trace repeats calls by Zipf weight
            first = rng.permutation(present)[:n]
            rest = rng.choice(present, n - len(first), p=w)
            seq = np.concatenate([first, rest])
            rng.shuffle(seq)
            lines.extend(names[i] + " -" for i in seq)
        elif n > 0:
            lines.extend([" -"] * n)
        with open(os.path.join(d, f"LOG_API ({f + 1})converted.txt"), "w") as fh:
            fh.write("\n".join(lines) + "\n")


def generate(out, seed, scale=1):
    # The vocabulary and per-class presence probabilities are fixed, so
    # every seed draws its files from the same corpus distribution and
    # runs with different seeds do the same amount of work.
    shape = np.random.default_rng(SHAPE_SEED)
    names = api_names(shape)
    probs = presence_probs(shape)
    rng = np.random.default_rng(seed)
    write_class(rng, out, "clean", round(N_CLEAN * scale), names, probs)
    write_class(rng, out, "virus", round(N_VIRUS * scale), names, probs)


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]),
             float(sys.argv[3]) if len(sys.argv) > 3 else 1)
