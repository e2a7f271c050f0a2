"""Tests of the benchmark's input generator.

    python3 -m unittest discover -s perfbench/tests
"""

import collections
import filecmp
import itertools
import json
import os
import re
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import gen  # noqa: E402

SCRATCH = os.path.join(os.path.dirname(os.path.dirname(HERE)), ".bench_work")
MADE = []


def generated(workload, seed):
    os.makedirs(SCRATCH, exist_ok=True)
    d = tempfile.mkdtemp(prefix="test-%s-" % workload, dir=SCRATCH)
    MADE.append(d)
    gen.generate(workload, seed, d)
    return d


def tearDownModule():
    for d in MADE:
        shutil.rmtree(d, ignore_errors=True)


def load(d, name):
    with open(os.path.join(d, name), encoding="utf-8") as f:
        return json.load(f)


class SameSeedSameBytes(unittest.TestCase):
    def test_every_workload_is_byte_identical_per_seed(self):
        for w in sorted(gen.WORKLOADS):
            a, b, c = generated(w, 5), generated(w, 5), generated(w, 6)
            names = sorted(os.listdir(a))
            self.assertEqual(names, sorted(os.listdir(b)))
            match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
            self.assertEqual((mismatch, errors), ([], []), w)
            self.assertFalse(filecmp.cmp(os.path.join(a, names[-1]), os.path.join(c, names[-1]),
                                         shallow=False), "%s: seed 6 repeats seed 5" % w)


class PlantedCoverage(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.d = generated("ingest", 3)
        cls.exp = load(cls.d, "expected.json")
        cls.recs = load(cls.d, "records.json")
        cls.notes = load(cls.d, "notes.json")

    def test_required_shapes_are_present(self):
        pa = [r["practitioner"]["address"] for r in self.recs if r["practitioner"]]
        self.assertTrue(any(isinstance(a, dict) for a in pa))
        self.assertTrue(any(isinstance(a, str) for a in pa))
        self.assertTrue(any(len(r["birthDate"]) == 4 for r in self.recs))
        self.assertTrue(any(re.search(r"[^\x00-\x7f]", n["note"]) for n in self.notes))
        keys = collections.Counter("%s_%s" % (r["address"]["line"], r["address"]["postalCode"])
                                   for r in self.recs)
        self.assertTrue(any(v > 1 for v in keys.values()), "no duplicate address MERGE key")

    def test_goldens_are_planted(self):
        g = self.exp["goldens"]
        self.assertEqual(g["q1"], ["3"])
        self.assertTrue(4 <= len(g["q2"]) <= 8)
        self.assertEqual(g["q4"], ["environment", "food", "medication", "other"])
        self.assertTrue(g["q7"][0].startswith("Ted, Reilly, "))
        self.assertEqual(len(g["q8"]), 1)
        self.assertTrue(g["q8"][0].endswith(", Cletus, Paucek"))
        self.assertTrue(all(int(g[q][0]) > 0 for q in ("q3", "q5", "q6", "q9", "q10")))

    def test_retrieval_answers_are_planted(self):
        # only the q8 note holds any q8 keyword; only Josef Klein's and
        # Arla Fritsch's patients' notes name them
        hits = self.exp["retrieval"]
        self.assertEqual(hits[7], [self.exp["q8_patient"]])
        by_id = {n["record_id"]: n["note"] for n in self.notes}
        self.assertTrue(hits[1] and all("Josef Klein" in by_id[i] for i in hits[1]))
        self.assertTrue(hits[2] and all("Arla Fritsch" in by_id[i] for i in hits[2]))

    def test_extraction_phrasing_is_not_copied_from_the_schema(self):
        # enum spellings rendered verbatim would make the extractor look
        # better than its phrasing coverage
        self.assertFalse(any("NeverMarried" in n["note"] for n in self.notes))
        n = self.exp["records"]
        fm = self.exp["field_matches"]
        for f in ("gender", "birthDate", "phone", "maritalStatus"):
            self.assertLess(fm[f], n, f)
            self.assertGreater(fm[f], 0.8 * n, f)


class CurationOracle(unittest.TestCase):
    """Replays cleanCorpus's rules (quality and language gates, exact and
    near-duplicate groups, rare-shingle contamination) in Python and checks
    that the planted survivors are exactly what those rules keep."""

    TOK = re.compile(r"[a-z0-9]+")
    STOP = {"en": ["the", "and", "of", "to", "in", "a", "is"],
            "es": ["el", "la", "de", "que", "y", "los", "es"],
            "fr": ["le", "la", "de", "et", "les", "des", "est"],
            "de": ["der", "die", "und", "das", "ist", "von", "ein"]}

    def kept_by_filters(self, text):
        toks = self.TOK.findall(text.lower())
        hits = [sum(t in self.STOP[l] for t in toks) for l in ("en", "es", "fr", "de")]
        en, es, fr, de = hits
        lang = "und" if sum(hits) == 0 else "en" if en >= max(es, fr, de) else "other"
        punct = len(re.sub(r"[a-z0-9\s]", "", text.lower())) / len(text)
        return len(toks) >= 10 and punct <= 0.1 and en / len(toks) >= 0.01 and lang == "en"

    def shingles(self, text, k):
        t = self.TOK.findall(text.lower())
        return {" ".join(t[i:i + k]) for i in range(max(len(t) - k + 1, 1))}

    def survivors(self, d, max_df=64):
        exp = load(d, "expected.json")
        k = exp["shingle_k"]
        docs = [x for x in load(d, "curate_docs.json") if self.kept_by_filters(x["text"])]
        reps = {}
        for x in docs:
            key = re.sub(r"\s+", " ", x["text"].lower())
            reps[key] = min(reps.get(key, x["doc_id"]), x["doc_id"])
        post = {x["doc_id"]: self.shingles(x["text"], k) for x in docs if x["doc_id"] in reps.values()}
        df = collections.Counter(s for v in post.values() for s in v)
        blocks = collections.defaultdict(list)
        for i, v in post.items():
            for s in v:
                if df[s] <= max_df:
                    blocks[s].append(i)
        parent = {}

        def root(x):
            while parent.get(x, x) != x:
                x = parent[x]
            return x
        pairs = {p for ids in blocks.values() for p in itertools.combinations(sorted(ids), 2)}
        self.near = [(a, b) for a, b in pairs
                     if len(post[a] & post[b]) / len(post[a] | post[b]) >= exp["min_jaccard"]]
        for a, b in self.near:
            ra, rb = root(a), root(b)
            parent[max(ra, rb)] = min(ra, rb)
        keep = {i for i in post if root(i) == i}
        evals = [self.shingles(e["text"], k) for e in load(d, "eval_docs.json")]
        df = collections.Counter(s for i in keep for s in post[i])
        for v in evals:
            df.update(v)
        dirty = {i for v in evals for i in keep
                 if len(post[i] & {s for s in v if df[s] <= max_df}) >= exp["min_common"]}
        return keep - dirty, set(exp["survivors"])

    def test_planted_survivors_match_the_rules(self):
        for seed in (1, 2):
            d = generated("curate", seed)
            got, want = self.survivors(d)
            self.assertEqual(sorted(want - got)[:5], [], "seed %d drops planted survivors" % seed)
            self.assertEqual(sorted(got - want)[:5], [], "seed %d keeps planted duplicates" % seed)
            # the hub has a near-duplicate edge to each of its copies; the
            # chain's links pair only with their neighbours (a path)
            exp = load(d, "expected.json")
            deg = collections.Counter(x for p in self.near for x in p)
            self.assertEqual(deg[exp["hub"]], exp["config"]["hub_leaves"])
            chain = exp["chain"]
            links = {p for p in self.near if set(p) <= set(chain)}
            self.assertEqual(links, {tuple(sorted(p)) for p in zip(chain, chain[1:])})


if __name__ == "__main__":
    unittest.main()
