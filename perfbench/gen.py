"""Seeded input generator for the perfbench workloads.

Runs as one untimed, single-process step before the program under test
starts: it writes input files plus an `expect.json` describing exactly
what was planted, and nothing else reaches the engine.

Rows follow the benchmark-owned registry schema
(`perfbench/registry/content/articles/v1.json`): articles v1 plus a
`published_at` timestamp that carries `retention_days`. Text is drawn
from the sf0.1 `documents.text` token vocabulary (`data/vocab.tsv`).
Every batch plants fixed shares of rows that the pipeline must divert:
null `doc_id`, disallowed `lang`, out-of-range `score`, malformed JSON
lines and expired timestamps, plus valid near-duplicates of earlier
documents (including documents of earlier cycles).
"""

import datetime as dt
import json
import os
import random

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))

# Input sizes. run.py and README.md quote these; change them together.
BATCH_ROWS = 6000           # rows per batch_pipeline cycle
BATCH_FILES = 4             # files per cycle (one read split per core)
STREAM_FILE_ROWS = 400      # rows per stream file
STREAM_RATE_FILES_S = 4.5   # open-loop schedule: 1,800 rows/s
STREAM_WARM_FILES = 12      # open-loop warm-up files (untimed)
STREAM_DRAIN_FILES = 8      # backlog read with maxFilesPerTrigger = 1

RETENTION_DAYS = 365
ALLOWED_LANGS = ["en", "de", "fr"]
BAD_LANGS = ["es", "zh"]

# Planted shares per batch, in rows per 1000. Categories are exclusive.
SHARES = {
    "malformed": 5,
    "null_doc_id": 10,
    "bad_lang": 10,
    "bad_score": 10,
    "expired": 20,
    "near_dup": 50,
}


def shrink():
    """Tiny inputs for the smoke test."""
    global BATCH_ROWS, STREAM_WARM_FILES, STREAM_DRAIN_FILES
    BATCH_ROWS, STREAM_WARM_FILES, STREAM_DRAIN_FILES = 2000, 2, 4


def load_vocab():
    tokens, weights, lo, hi = [], [], 10, 100
    with open(os.path.join(HERE, "data", "vocab.tsv")) as f:
        for line in f:
            parts = line.rstrip("\n").split("\t")
            if line.startswith("# words_per_doc"):
                lo, hi = int(parts[1]), int(parts[2])
            elif not line.startswith("#"):
                tokens.append(parts[0])
                weights.append(int(parts[1]))
    return tokens, weights, lo, hi


class Batches:
    """Generates consecutive batches; near-duplicates may copy any clean
    document generated earlier in the same Batches, across batches."""

    def __init__(self, seed, salt, today):
        self.rng = random.Random(seed * 1_000_003 + salt)
        self.np = np.random.default_rng(seed * 1_000_003 + salt)
        self.tokens, weights, self.lo, self.hi = load_vocab()
        self.p = np.array(weights, dtype=float) / sum(weights)
        self.today = today
        self.days = {}
        self.originals = []   # (doc_id, words) of clean, long, non-dup docs
        self.next_id = 1

    def _texts(self, rows):
        lens = self.np.integers(self.lo, self.hi + 1, size=rows)
        idx = self.np.choice(len(self.tokens), size=int(lens.sum()), p=self.p)
        words = np.array(self.tokens)[idx].tolist()
        offs = np.concatenate([[0], np.cumsum(lens)]).tolist()
        return [words[offs[i]:offs[i + 1]] for i in range(rows)]

    def _ts(self, expired):
        r = self.rng
        days = (r.randint(RETENTION_DAYS + 30, RETENTION_DAYS + 400) if expired
                else r.randint(1, RETENTION_DAYS - 30))
        if days not in self.days:
            self.days[days] = (self.today - dt.timedelta(days=days + 1)).isoformat()
        s = r.randint(0, 86399)
        return f"{self.days[days]}T{s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d}+00:00"

    def batch(self, rows):
        """Returns (json lines, expectation dict) for one batch."""
        r = self.rng
        kinds = []
        for k, per_mille in SHARES.items():
            kinds += [k] * (rows * per_mille // 1000)
        kinds += ["clean"] * (rows - len(kinds))
        r.shuffle(kinds)
        lines, pairs, landed_ids, quarantined_ids = [], [], [], []
        exp = {k: 0 for k in list(SHARES) + ["clean"]}
        for kind, words in zip(kinds, self._texts(rows)):
            doc_id = self.next_id
            self.next_id += 1
            if kind == "near_dup" and self.originals:
                orig_id, orig = r.choice(self.originals)
                words = list(orig)
                words[r.randrange(len(words))] = r.choice(self.tokens)
                pairs.append([orig_id, doc_id])
            elif kind == "near_dup":
                kind = "clean"
            lang = r.choice(BAD_LANGS if kind == "bad_lang" else ALLOWED_LANGS)
            score = (r.choice([r.uniform(1.01, 2.0), r.uniform(-1.0, -0.01)])
                     if kind == "bad_score" else r.random())
            # text is lowercase words and spaces, so no JSON escaping is needed
            line = (f'{{"doc_id":{"null" if kind == "null_doc_id" else doc_id},'
                    f'"text":"{" ".join(words)}",'
                    f'"author_email":"author{r.randint(1, 5000)}@example.org",'
                    f'"lang":"{lang}","score":{score:.4f},'
                    f'"published_at":"{self._ts(kind == "expired")}"}}')
            if kind == "malformed":
                line = line[: len(line) // 2]
            elif kind in ("clean", "near_dup"):
                landed_ids.append(doc_id)
                if kind == "clean" and len(words) >= 40:
                    self.originals.append((doc_id, words))
            elif kind not in ("expired", "null_doc_id"):
                quarantined_ids.append(doc_id)
            exp[kind] += 1
            lines.append(line)
        exp["generated"] = rows
        exp["near_dup_pairs"] = pairs
        # id checksums: count + sum pin the exact id set once the reader
        # also proves the landed ids are distinct
        exp["landed"] = len(landed_ids)
        exp["landed_id_sum"] = sum(landed_ids)
        exp["quarantined_with_id"] = len(quarantined_ids)
        exp["quarantined_id_sum"] = sum(quarantined_ids)
        return lines, exp


def write_lines(path, lines):
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")
    os.replace(tmp, path)


def split(lines, parts):
    n = len(lines)
    return [lines[i * n // parts:(i + 1) * n // parts] for i in range(parts)]


def gen_batch_pipeline(out, seed, today, warm_ops):
    g = Batches(seed, 1, today)
    cycles = []
    for c in range(1 + warm_ops):
        lines, exp = g.batch(BATCH_ROWS)
        d = os.path.join(out, "in", f"cycle={c:03d}")
        os.makedirs(d, exist_ok=True)
        for i, part in enumerate(split(lines, BATCH_FILES)):
            write_lines(os.path.join(d, f"part-{i}.json"), part)
        cycles.append(exp)
    return {"cycles": cycles}


def gen_stream_ingest(out, seed, today, warm_ops):
    g = Batches(seed, 2, today)
    phases = {}
    for phase, n in (("open", STREAM_WARM_FILES + warm_ops),
                     ("drain", STREAM_DRAIN_FILES)):
        d = os.path.join(out, "stage", phase)
        os.makedirs(d, exist_ok=True)
        files = []
        for i in range(n):
            lines, exp = g.batch(STREAM_FILE_ROWS)
            name = f"f{i:05d}.json"
            write_lines(os.path.join(d, name), lines)
            exp["file"] = name
            files.append(exp)
        phases[phase] = files
    return {"rate_files_s": STREAM_RATE_FILES_S,
            "warm_files": STREAM_WARM_FILES, **phases}


def gen_query_stratum(out, seed, today, queries):
    order = list(queries)
    random.Random(seed * 1_000_003 + 3).shuffle(order)
    return {"order": order}


def generate(workload, out, seed, queries, warm_ops):
    """Inputs for one run; `warm_ops` is the number of warm cycles (batch)
    or measured open-loop files (stream) the run will time."""
    os.makedirs(out, exist_ok=True)
    today = dt.datetime.now(dt.timezone.utc).date()
    if workload == "batch_pipeline":
        exp = gen_batch_pipeline(out, seed, today, warm_ops)
    elif workload == "stream_ingest":
        exp = gen_stream_ingest(out, seed, today, warm_ops)
    else:
        exp = gen_query_stratum(out, seed, today, queries)
    exp.update(workload=workload, seed=seed, run_date=today.isoformat(),
               retention_days=RETENTION_DAYS)
    with open(os.path.join(out, "expect.json"), "w") as f:
        json.dump(exp, f)
    return exp
