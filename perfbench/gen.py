"""Seeded input generator for the Graph-RAG pipeline benchmark.

Writes extracted-FHIR records (the engine's `FhirPipeline.schema`), clinical
notes rendered from them, and `expected.json`: every answer the benchmark
checks, derived from the generator's own choices (never from a run of the
engine).

Coverage planted on purpose:
  * practitioner address as a JSON object and as a bare string;
  * diacritics in names, streets and cities;
  * year-only birth dates;
  * duplicate MERGE keys: shared address keys with conflicting spellings,
    practitioners re-sent with conflicting phones, two immunizations of one
    record with the same status, repeated allergy substances in one record;
  * the 10 golden question shapes of the reference's test set, with answers,
    and for each question the notes one of its two retrieved documents must
    come from;
  * for curation: exact and near duplicates, a 48-copy near-duplicate hub,
    a 12-link near-duplicate chain, filtered documents and an eval set that
    overlaps known notes. This mix is synthetic: chosen to reach each branch
    of `Curation.cleanCorpus`, not measured on a real corpus.

Per-field extraction matches are decided while rendering: each field is
written either in a phrasing the rule-based extractor reads, or in one it
does not ("single", "born in 1987", "(617) 555-0101"), and the expected
match count follows from that choice.

    python3 perfbench/gen.py --workload rag --seed 7 --out DIR
"""

import argparse
import datetime as dt
import json
import os
import random
import re

PAPER_NOTES = 2726  # the reference corpus size; scales are multiples of it

# Input sizes per workload (records = round(scale * 2726)).
WORKLOADS = {
    "ingest": {"scale": 2.0},
    "rag": {"scale": 2.0},
    "curate": {"scale": 1.0, "exact_dups": 60, "near_dups": 60,
               "hub_leaves": 48, "chain_len": 12, "eval_copies": 30,
               "eval_fresh": 30, "spanish": 20, "short": 20, "noisy": 20},
}

MONTHS = ["January", "February", "March", "April", "May", "June", "July",
          "August", "September", "October", "November", "December"]
GIVEN_F = ["Sonia", "María", "Zoë", "Renée", "Léa", "Chloé", "Ana", "Lucía",
           "Ingrid", "Nadia", "Olga", "Paula", "Rosa", "Selma", "Tamsin",
           "Ursula", "Vera", "Wanda", "Yara", "Beatriz", "Camila", "Dalia",
           "Elena", "Fatima", "Greta", "Hana", "Irene", "Jolene", "Kirsten",
           "Lorena", "Mireille", "Noémie", "Odette", "Priya", "Raquel"]
GIVEN_M = ["José", "Björn", "Jürgen", "Andrés", "Bruno", "Carlos", "Dmitri",
           "Emil", "Félix", "Gustavo", "Hugo", "Ivan", "Joaquín", "Kenji",
           "Lars", "Mateo", "Nils", "Oscar", "Pablo", "Quentin", "Rafael",
           "Stefan", "Tobias", "Ulrich", "Viktor", "Walter", "Xavier",
           "Yusuf", "Zoltán", "Amadeo", "Benoît", "Ciarán", "Darius"]
SYL = ["ab", "bar", "bran", "cas", "del", "dor", "fen", "gar", "gut", "hal",
       "jen", "kas", "lan", "mar", "mer", "nor", "ost", "pal", "quin", "ros",
       "sal", "ten", "tor", "ul", "van", "wes", "zim", "bañ", "mül", "ñez",
       "brek", "veum", "hurst", "shire", "ton", "berg", "man", "son", "wick",
       "ley", "ford", "stad", "ez", "ova", "ski", "ier", "ard", "ell"]
STREETS = ["Gutmann", "Calle Peñón", "Schröder", "Maple", "Birch", "Harbor",
           "Lakeview", "Crestwood", "Juniper", "Orchard", "Summit", "Willow",
           "Aspen", "Cedar", "Ridge", "Valley", "Meadow", "Quarry", "Sunset",
           "Canyon", "Prairie", "Elm", "Hawthorne", "Larkspur", "Bramble"]
SUFFIX = ["Burg", "Street", "Avenue", "Lane", "Court", "Way", "Drive",
          "Road", "Terrace", "Place"]
CITIES = [("Boston", "Massachusetts"), ("Springfield", "Massachusetts"),
          ("Worcester", "Massachusetts"), ("Lowell", "Massachusetts"),
          ("Cañon City", "Colorado"), ("Española", "New Mexico"),
          ("Peñasco", "New Mexico"), ("Hartford", "Connecticut"),
          ("Providence", "Rhode Island"), ("Portland", "Maine"),
          ("Burlington", "Vermont"), ("Albany", "New York"),
          ("Trenton", "New Jersey"), ("Dover", "Delaware"),
          ("Concord", "New Hampshire"), ("Salem", "Oregon"),
          ("Bismarck", "North Dakota"), ("Pierre", "South Dakota"),
          ("Helena", "Montana"), ("Boise", "Idaho")]
SUBSTANCES = {
    "food": ["peanut", "egg", "milk", "wheat", "soy", "fish", "sesame",
             "strawberry", "walnut", "almond", "kiwi", "mustard", "celery",
             "lupin", "oat"],
    "medication": ["penicillin", "sulfonamide", "aspirin", "ibuprofen",
                   "codeine", "amoxicillin"],
    "environment": ["pollen", "dust mite", "mold", "cat dander", "bee venom"],
    "other": ["nickel", "latex", "adhesive"],
}
MANIFEST = ["hives", "rash", "wheezing", "anaphylaxis", "itching", "swelling",
            "nausea", "sneezing"]
VACCINES = [["injectable", "preservative-free", "seasonal influenza vaccine"],
            ["Td (adult)", "preservative free"], ["hepatitis B vaccine"],
            ["pneumococcal conjugate vaccine"], ["zoster vaccine", "recombinant"],
            ["influenza", "high dose", "quadrivalent"], ["HPV vaccine"],
            ["COVID-19 mRNA vaccine"]]
OFFSETS = ["+00:00", "+01:00", "-05:00", "+05:30", "-08:00"]

# Planted names. Population pools never produce them (see _surname).
ROSENBAUM, JOSEF, KLEIN, ARLA, FRITSCH = "Rosenbaum", "Josef", "Klein", "Arla", "Fritsch"
TED, REILLY, CLETUS, PAUCEK = "Ted", "Reilly", "Cletus", "Paucek"
Q8_SURNAME = "Quarshie"
# The q8 question's keywords besides the surname and the record id; no
# note contains them, so the q8 note is the only one BM25 can match.
Q8_WORDS = ("town", "state", "practitioner", "chart", "allergic", "shellfish")
RESERVED = ("rosenbaum", "klein", "fritsch", "reilly", "paucek", "josef", "arla",
            "quarshie") + Q8_WORDS
CUTOFF = dt.datetime(2022, 1, 1, tzinfo=dt.timezone.utc)
TOKEN_RE = re.compile(r"[a-z0-9]+")  # TextFunctions.tokens over lower(text)
TS_RE = re.compile(r"^(\d{4})-(\d{2})-(\d{2})T(\d{2}):(\d{2}):(\d{2})([+-])(\d{2}):(\d{2})$")


def _surname(rng):
    while True:
        s = "".join(rng.choice(SYL) for _ in range(rng.choice((2, 2, 3))))
        s = s[0].upper() + s[1:]
        if not any(r in s.lower() for r in RESERVED):
            return s


class Gen:
    """Record factory. All randomness flows from one `random.Random(seed)`.

    Attributes that many notes share (given names, birth dates, streets,
    practitioners, vaccines) are dealt from shuffled decks, so every value
    comes up equally often and the amount of shared text, which sets the
    work of near-duplicate detection, does not swing from seed to seed.
    """

    def __init__(self, seed, n_practitioners):
        self.rng = random.Random(seed)
        self.decks = {}
        self.streets = []  # (line, city, state, postal) already handed out
        self.prac_pool = [self._practitioner() for _ in range(n_practitioners)]
        self.used_phones = set()

    # -- primitives -------------------------------------------------------
    def deal(self, key, values):
        deck = self.decks.get(key)
        if not deck:
            deck = self.decks[key] = list(values)
            self.rng.shuffle(deck)
        return deck.pop()

    def person_name(self, female):
        pool = GIVEN_F if female else GIVEN_M
        given = [self.deal(pool[0], pool)]
        if self.rng.random() < 0.4:
            given.append(self.deal(pool[0], pool))
        return given, _surname(self.rng)

    def phone(self):
        while True:
            p = "%03d-%03d-%04d" % (self.rng.randint(200, 989),
                                    self.rng.randint(200, 999),
                                    self.rng.randint(0, 9999))
            if p not in self.used_phones:
                self.used_phones.add(p)
                return p

    def email(self, given, family, i):
        base = re.sub(r"[^a-z]", "", (given + "." + family).lower()
                      .translate(str.maketrans("áéíóúñüöëçàèâêîôû", "aeiounuoecaeaeiou")))
        return "%s%d@%s" % (base or "user", i, self.rng.choice(
            ["example.com", "mail.example.org", "gmail.com", "clinic.example.net"]))

    def address(self, reuse_p=0.05):
        rng = self.rng
        if self.streets and rng.random() < reuse_p:
            # duplicate MERGE key: same line + postal code, city spelled
            # differently in 1 of 3 re-uses (first write must win)
            line, city, state, postal = rng.choice(self.streets)
            if rng.random() < 0.34:
                city = city.upper()
            return {"line": line, "city": city, "state": state,
                    "postalCode": postal, "country": "US"}
        city, state = self.deal("city", CITIES)
        line = "%d %s %s" % (rng.randint(1, 9999), self.deal("street", STREETS),
                             self.deal("suffix", SUFFIX))
        postal = "%05d" % rng.randint(1000, 99999)
        self.streets.append((line, city, state, postal))
        return {"line": line, "city": city, "state": state,
                "postalCode": postal, "country": "US"}

    def _practitioner(self, given=None, family=None):
        rng = self.rng
        if given is None:
            given, family = self.person_name(rng.random() < 0.5)
            given = given[:1]
        addr = self.address(reuse_p=0.0)
        # `Address | string` union: half as an object, half as a street string
        address = addr if rng.random() < 0.5 else "%s, %s" % (addr["line"], addr["city"])
        return {"name": {"family": family, "given": given, "prefix": "Dr."},
                "address": address,
                "phone": "%03d-%03d-%04d" % (rng.randint(200, 989), rng.randint(200, 999),
                                             rng.randint(0, 9999)),
                "email": None if rng.random() < 0.3 else
                "dr.%s@clinic.example.net" % family.lower().replace("ñ", "n").replace("ü", "u")}

    def practitioner_copy(self, p):
        """A record's copy of a pool practitioner; 1 in 10 re-sends the same
        key with a conflicting phone."""
        c = json.loads(json.dumps(p))
        if self.rng.random() < 0.1:
            c["phone"] = "%03d-555-%04d" % (self.rng.randint(200, 989), self.rng.randint(0, 9999))
        return c

    def timestamp(self):
        rng = self.rng
        d = dt.datetime(2015, 1, 1) + dt.timedelta(minutes=rng.randint(0, 10 * 365 * 1440))
        return d.strftime("%Y-%m-%dT%H:%M:00") + rng.choice(OFFSETS)

    def immunizations(self):
        rng = self.rng
        out = []
        for _ in range(rng.choice((1, 1, 1, 2, 2, 3))):
            status = "completed" if rng.random() < 0.85 else None
            out.append({"traits": list(self.deal("vaccine", VACCINES)), "status": status,
                        "occurrenceDateTime": self.timestamp()})
        if rng.random() < 0.05:  # boundary: local 2022-01-01 00:30 is 2021 in UTC
            out.append({"traits": ["seasonal influenza vaccine"], "status": None,
                        "occurrenceDateTime": "2022-01-01T00:30:00+01:00"})
        if rng.random() < 0.03:  # unparseable timestamp parses to NULL
            out.append({"traits": ["hepatitis B vaccine"], "status": "not-done",
                        "occurrenceDateTime": "2021-07-04 10:00"})
        return out

    def allergies(self):
        rng = self.rng
        subs = []
        for _ in range(rng.choice((1, 1, 2, 3))):
            cat = rng.choice(list(SUBSTANCES))
            name = rng.choice(SUBSTANCES[cat])
            if rng.random() < 0.05:
                name = None
            subs.append({"category": None if rng.random() < 0.04 else cat, "name": name,
                         "manifestation": rng.sample(MANIFEST, rng.choice((1, 2)))})
        if rng.random() < 0.1:  # same substance twice in one record
            dup = dict(subs[0])
            dup["manifestation"] = [rng.choice(MANIFEST)]
            subs.append(dup)
        return {"substance": subs}

    def record(self, rid):
        rng = self.rng
        female = rng.random() < 0.5
        given, family = self.person_name(female)
        year = self.deal("year", range(1935, 2016))
        birth = "%04d-%02d-%02d" % (year, self.deal("month", range(1, 13)),
                                    self.deal("day", range(1, 29)))
        if rng.random() < 0.02:
            birth = "%04d" % year
        practitioner = None
        if rng.random() < 0.52:
            practitioner = self.practitioner_copy(self.deal("practitioner", self.prac_pool))
        return {
            "record_id": rid,
            "name": {"family": family, "given": given,
                     "prefix": None if rng.random() < 0.04 else
                     ("Ms." if rng.random() < 0.5 else "Mrs.") if female else "Mr."},
            "age": 2025 - int(birth[:4]),
            "gender": None if rng.random() < 0.05 else ("Female" if female else "Male"),
            "birthDate": birth,
            "address": self.address(),
            "phone": self.phone(),
            "email": None if rng.random() < 0.15 else self.email(given[0], family, rid),
            "maritalStatus": rng.choice(["Married", "Married", "Divorced", "Widowed",
                                         "NeverMarried", "NeverMarried", None]),
            "primaryLanguage": rng.choice(["English", "English", "English", "Spanish", None]),
            "allergy": self.allergies() if rng.random() < 0.084 else None,
            "immunization": self.immunizations() if rng.random() < 0.162 else None,
            "practitioner": practitioner,
        }


# -- notes ----------------------------------------------------------------

def render_note(r, rng):
    """Render one note; return (text, {field: extractor reads it right})."""
    n = r["name"]
    female = r["gender"] == "Female" or n["prefix"] in ("Ms.", "Mrs.")
    pron = "She" if female else "He"
    who = " ".join(([n["prefix"]] if n["prefix"] else []) + n["given"] + [n["family"]])
    ok = {}
    parts = ["A clinical note for %s (record %d):" % (who, r["record_id"])]
    ok["prefix"] = True
    g = r["gender"]
    if g is None:
        parts.append("the patient is %d years old" % r["age"])
        ok["gender"] = True
    elif rng.random() < 0.9:
        parts.append("the patient is a %d-year-old %s" % (r["age"], g.lower()))
        ok["gender"] = True
    else:  # "woman"/"man": not read by the extractor
        parts.append("the patient is a %d-year-old %s" % (r["age"], "woman" if g == "Female" else "man"))
        ok["gender"] = False
    b = r["birthDate"]
    if len(b) == 4:
        parts[-1] += " and was born in %s." % b
        ok["birthDate"] = False
    elif rng.random() < 0.93:
        y, m, d = b.split("-")
        parts[-1] += " and was born on %s %d, %s." % (MONTHS[int(m) - 1], int(d), y)
        ok["birthDate"] = True
    else:
        parts[-1] += " and was born %s." % b
        ok["birthDate"] = False
    ms = r["maritalStatus"]
    if ms is None:
        ok["maritalStatus"] = True
    elif ms == "NeverMarried":
        if rng.random() < 0.8:
            parts.append("%s has never married." % pron)
            ok["maritalStatus"] = True
        else:
            parts.append("%s is single." % pron)
            ok["maritalStatus"] = False
    else:
        parts.append("%s is %s." % (pron, ms.lower()))
        ok["maritalStatus"] = True
    lang = r["primaryLanguage"]
    if lang:
        parts.append("%s speaks %s at home." % (pron, lang))
    ok["primaryLanguage"] = True
    a = r["address"]
    parts.append("%s lives at %s in %s, %s %s." % (pron, a["line"], a["city"], a["state"], a["postalCode"]))
    if rng.random() < 0.95:
        parts.append("The phone number on file is %s" % r["phone"])
        ok["phone"] = True
    else:
        p = r["phone"]
        parts.append("The phone number on file is (%s) %s" % (p[:3], p[4:]))
        ok["phone"] = False
    if r["email"]:
        parts[-1] += " and the email address is %s." % r["email"]
    else:
        parts[-1] += "."
    ok["email"] = True
    if r["allergy"]:
        for s in r["allergy"]["substance"]:
            parts.append("%s has a documented %s allergy to %s with %s." % (
                pron, s["category"] or "unspecified", s["name"] or "an unknown substance",
                " and ".join(s["manifestation"])))
    for im in r["immunization"] or []:
        parts.append("%s received the %s on %s, status %s." % (
            pron, ", ".join(im["traits"]), im["occurrenceDateTime"], im["status"] or "unknown"))
    p = r["practitioner"]
    if p:
        # with no patient email, the extractor picks up the practitioner's
        ok["email"] = bool(r["email"]) or not p["email"]
        pn = p["name"]
        parts.append("The patient is seen by Dr. %s %s in the clinic at %s, who can be reached at %s%s." % (
            " ".join(pn["given"]), pn["family"],
            p["address"] if isinstance(p["address"], str) else p["address"]["line"],
            p["phone"], " or " + p["email"] if p["email"] else ""))
    return " ".join(parts), ok


EXTRACT_FIELDS = ["prefix", "gender", "birthDate", "phone", "email", "maritalStatus",
                  "primaryLanguage"]


# -- graph model: the 10 golden answers over the engine's MERGE rules -------

def _ts_utc(s):
    m = TS_RE.match(s or "")
    if not m:
        return None
    y, mo, d, h, mi, se, sign, oh, om = m.groups()
    try:
        local = dt.datetime(int(y), int(mo), int(d), int(h), int(mi), int(se))
    except ValueError:
        return None
    off = dt.timedelta(hours=int(oh), minutes=int(om)) * (1 if sign == "+" else -1)
    return (local - off).replace(tzinfo=dt.timezone.utc)


def _pract_id(p):
    n = p["name"]
    if not (n.get("prefix") and n.get("family") and n.get("given") is not None):
        return None
    return ("%s_%s_%s" % (n["prefix"], "_".join(n["given"]), n["family"])).lower()


class GraphModel:
    """The property graph `buildGraph` makes of `records`: the first
    (record_id, list position) wins every node key."""

    def __init__(self, records):
        self.patients = {}      # id -> (surname, given, birth year or None)
        self.imm = {}           # immunization id -> (utc ts, traits lower)
        self.allergy = {}       # allergy id -> category
        self.substances = set()
        self.practitioners = {}  # id -> (given joined "", family)
        self.addresses = {}     # id -> (city, state)
        self.edges = {r: set() for r in
                      ("LIVES_IN", "TREATS", "EXPERIENCES", "CAUSES", "HAS_IMMUNIZATION")}
        for r in sorted(records, key=lambda r: r["record_id"]):
            rid = r["record_id"]
            n = r["name"]
            self.patients[rid] = (n["family"], " ".join(n["given"]), int(r["birthDate"][:4]))
            a = r["address"]
            if a and a.get("line") and a.get("postalCode"):
                aid = ("%s_%s" % (a["line"], a["postalCode"])).lower()
                self.addresses.setdefault(aid, (a["city"], a["state"]))
                self.edges["LIVES_IN"].add((rid, aid))
            p = r["practitioner"]
            if p and _pract_id(p):
                pid = _pract_id(p)
                self.practitioners.setdefault(pid, ("".join(p["name"]["given"]), p["name"]["family"]))
                self.edges["TREATS"].add((pid, rid))
            for s in (r["allergy"] or {}).get("substance") or []:
                cat = (s["category"] or "unknown").lower()
                nm = s["name"].lower() if s["name"] else None
                aid = "%d_%s_%s" % (rid, cat, nm or "unknown")
                self.allergy.setdefault(aid, s["category"].lower() if s["category"] else None)
                self.edges["EXPERIENCES"].add((rid, aid))
                if nm:
                    self.substances.add(nm)
                    self.edges["CAUSES"].add((nm, aid))
            for im in r["immunization"] or []:
                ts = _ts_utc(im["occurrenceDateTime"])
                traits = ", ".join(im["traits"]).lower() if im["traits"] is not None else None
                st = im["status"].lower() if im["status"] else None
                if st is None and ts is None and traits is None:
                    continue
                iid = "%d_%s" % (rid, st or "unknown")
                self.imm.setdefault(iid, (ts, traits))
                self.edges["HAS_IMMUNIZATION"].add((rid, iid))

    def counts(self):
        nodes = {"Patient": len(self.patients), "Immunization": len(self.imm),
                 "Allergy": len(self.allergy), "Substance": len(self.substances),
                 "Practitioner": len(self.practitioners), "Address": len(self.addresses)}
        return {"nodes": nodes, "edges": {r: len(e) for r, e in self.edges.items()}}

    def answers(self, q8_patient):
        """Expected result lines per golden statement, in the engine's row
        rendering (columns joined by ", "), sorted."""
        pats, E = self.patients, self.edges
        imm_per = {}
        for rid, iid in E["HAS_IMMUNIZATION"]:
            imm_per.setdefault(rid, set()).add(iid)
        q1 = sum(1 for rid, s in imm_per.items() if pats[rid][0] == ROSENBAUM and len(s) > 1)
        treated = {}
        for pid, rid in E["TREATS"]:
            treated.setdefault(pid, set()).add(rid)
        josef = [pid for pid, (g, f) in self.practitioners.items()
                 if "josef" in g.lower() and "klein" in f.lower()]
        q2 = sorted({"%s, %s" % (pats[r][1], pats[r][0]) for pid in josef for r in treated[pid]})
        arla = [pid for pid, (g, f) in self.practitioners.items() if g == ARLA and f == FRITSCH]
        q3 = len({r for pid in arla for r in treated[pid]})
        q4 = sorted({c for c in self.allergy.values() if c is not None})
        q5 = sum(1 for p in pats.values() if p[2] is not None and 1990 <= p[2] <= 2000)
        q6 = sum(1 for _, iid in E["HAS_IMMUNIZATION"]
                 if self.imm[iid][0] is not None and self.imm[iid][0] > CUTOFF)
        q9 = sum(1 for _, iid in E["HAS_IMMUNIZATION"]
                 if self.imm[iid][1] is not None and "influenza" in self.imm[iid][1])
        top = sorted(((len(v), pid) for pid, v in treated.items()), key=lambda t: (-t[0], t[1]))
        assert len(top) < 2 or top[0][0] > top[1][0], "planted top practitioner is not unique"
        g, f = self.practitioners[top[0][1]]
        q7 = ["%s, %s, %d" % (g, f, top[0][0])]
        food = {nm for nm, aid in E["CAUSES"] if self.allergy[aid] == "food"}
        q10 = len(food)
        # q8: (city, state, practitioner) of the planted patient's shellfish allergy
        rows = set()
        if any(nm == "shellfish" and aid.startswith("%d_" % q8_patient) for nm, aid in E["CAUSES"]):
            for rid, aid in E["LIVES_IN"]:
                if rid == q8_patient:
                    for pid, r2 in E["TREATS"]:
                        if r2 == q8_patient:
                            rows.add("%s, %s, %s, %s" % (self.addresses[aid] + self.practitioners[pid]))
        return {"q1": [str(q1)], "q2": q2, "q3": [str(q3)], "q4": q4, "q5": [str(q5)],
                "q6": [str(q6)], "q7": q7, "q8": sorted(rows), "q9": [str(q9)],
                "q10": [str(q10)]}


# -- corpus assembly --------------------------------------------------------

def base_corpus(seed, n):
    """n records with every golden shape planted, plus their notes."""
    gen = Gen(seed, max(20, n // 40))
    rng = gen.rng
    recs = [gen.record(rid) for rid in range(1, n + 1)]
    free = [r for r in recs if r["practitioner"] is None]
    rng.shuffle(free)
    take = lambda k: [free.pop() for _ in range(k)]
    # q1: Rosenbaum patients, some with 2 distinct immunization keys, some
    # whose two immunizations collapse onto one key (same status)
    for i, r in enumerate(rng.sample(recs, 6)):
        r["name"]["family"] = ROSENBAUM
        im = gen.immunizations()[:1]
        st = "completed" if i % 2 else None
        second = {"traits": ["zoster vaccine"], "status": st,
                  "occurrenceDateTime": gen.timestamp()}
        im[0]["status"] = "completed"
        r["immunization"] = im + [second] if i < 5 else im
    # q2 / q3: two planted practitioners
    josef = gen._practitioner([JOSEF], KLEIN)
    for r in take(rng.randint(4, 8)):
        r["practitioner"] = gen.practitioner_copy(josef)
    arla = gen._practitioner([ARLA], FRITSCH)
    for r in take(rng.randint(2, 5)):
        r["practitioner"] = gen.practitioner_copy(arla)
    # every allergy category appears at least once
    for cat, r in zip(SUBSTANCES, take(len(SUBSTANCES))):
        r["allergy"] = {"substance": [{"category": cat, "name": SUBSTANCES[cat][0],
                                       "manifestation": ["rash"]}]}
    # q7: Ted Reilly treats strictly more patients than anyone else
    model = GraphModel(recs)
    counts = {}
    for pid, _ in model.edges["TREATS"]:
        counts[pid] = counts.get(pid, 0) + 1
    ted = gen._practitioner([TED], REILLY)
    for r in take(max(counts.values()) + 2):
        r["practitioner"] = gen.practitioner_copy(ted)
    # q8: one patient with a planted surname, one shellfish allergy, a
    # unique address and Cletus Paucek. Its record id (3+ digits, so the
    # keyword step keeps it) is a token of no other record, hence of no
    # other note: a note's numbers all come from its record's fields.
    toks = [set(TOKEN_RE.findall(json.dumps(r, ensure_ascii=False).lower())) for r in recs]
    seen = {}
    for t in toks:
        for x in t:
            seen[x] = seen.get(x, 0) + 1
    q8 = next(r for r in free if r["record_id"] >= 100 and r["name"]["family"] != ROSENBAUM
              and seen.get(str(r["record_id"]), 0) == 1)
    free.remove(q8)
    q8["name"]["family"] = Q8_SURNAME
    if q8["email"]:
        q8["email"] = gen.email(q8["name"]["given"][0], Q8_SURNAME, q8["record_id"])
    q8["practitioner"] = gen.practitioner_copy(gen._practitioner([CLETUS], PAUCEK))
    q8["address"] = gen.address(reuse_p=0.0)
    q8["address"]["city"] = "Cañon City"
    q8["address"]["state"] = "Colorado"
    q8["allergy"] = {"substance": [{"category": "food", "name": "shellfish",
                                    "manifestation": ["hives"]}]}
    notes, ok = [], {f: 0 for f in EXTRACT_FIELDS}
    for r in recs:
        text, flags = render_note(r, rng)
        notes.append({"record_id": r["record_id"], "note": text})
        for f in EXTRACT_FIELDS:
            ok[f] += flags[f]
    return gen.rng, recs, notes, ok, q8["record_id"]


def _questions(q8_id):
    return [
        "How many patients named Rosenbaum have more than one immunization?",
        "Which patients are treated by Josef Klein?",
        "How many patients did Arla Fritsch treat?",
        "What are the unique allergy substance categories?",
        "How many patients were born between 1990 and 2000?",
        "How many immunizations happened after January 2022?",
        "Which practitioner has the most patients?",
        "%s, chart %d, is allergic to shellfish: which town, state and practitioner?" % (Q8_SURNAME, q8_id),
        "How many patients were immunized against influenza?",
        "How many substances cause food allergies?",
    ]


# Rag.DeterministicLlm.entityKeywords: lower-case [a-z0-9]+ runs longer
# than two characters, minus TextFunctions.stopwords and a few question words
KEYWORD_STOP = {"the", "and", "of", "to", "in", "a", "is", "el", "la", "de", "que", "y", "los",
                "es", "le", "et", "les", "des", "est", "der", "die", "und", "das", "ist", "von",
                "ein", "what", "which", "how", "many", "are", "было", "did", "do", "does", "was",
                "were"}


def keywords(question):
    out = []
    for t in re.split(r"[^a-z0-9]+", question.lower()):
        if len(t) > 2 and t not in KEYWORD_STOP and t not in out:
            out.append(t)
    return out


def retrieval_sets(questions, notes):
    """Per question, the ids of the notes holding at least one of its
    keywords. `answerMany` fuses the BM25 top 20 (these notes only) with the
    vector top 20 by RRF (k = 60) and keeps 2, so one of the 2 is always such
    a note: the BM25 leader scores at least 1/61, and outside these notes
    only the vector leader reaches 1/61."""
    toks = [(x["record_id"], set(TOKEN_RE.findall(x["note"].lower()))) for x in notes]
    return [sorted(rid for rid, t in toks if t.intersection(keywords(q))) for q in questions]


def write_json(path, obj):
    with open(path, "w", encoding="utf-8") as f:
        json.dump(obj, f, ensure_ascii=False, separators=(",", ":"), sort_keys=True)
        f.write("\n")


def write_array(path, rows):
    """Multi-line JSON array, one element per line (FhirPipeline.load format)."""
    with open(path, "w", encoding="utf-8") as f:
        f.write("[\n")
        last = len(rows) - 1
        for i, r in enumerate(rows):
            f.write(json.dumps(r, ensure_ascii=False, separators=(",", ":"), sort_keys=True))
            f.write(",\n" if i < last else "\n")
        f.write("]\n")


def gen_graph_workload(seed, out, scale):
    n = round(scale * PAPER_NOTES)
    _, recs, notes, ok, q8_id = base_corpus(seed, n)
    model = GraphModel(recs)
    questions = _questions(q8_id)
    hits = retrieval_sets(questions, notes)
    treated = lambda family: sorted(r["record_id"] for r in recs if r["practitioner"]
                                    and r["practitioner"]["name"]["family"] == family)
    # the planted answers the vector arm must return: the q8 note, and a
    # note of a patient of Josef Klein / Arla Fritsch
    assert hits[7] == [q8_id] and hits[1] == treated(KLEIN) and hits[2] == treated(FRITSCH)
    toks = [TOKEN_RE.findall(x["note"].lower()) for x in notes]
    write_array(os.path.join(out, "records.json"), recs)
    write_array(os.path.join(out, "notes.json"), notes)
    return {"records": n, "field_matches": ok, "q8_patient": q8_id,
            "goldens": model.answers(q8_id), "counts": model.counts(),
            "questions": questions, "retrieval": hits,
            "index": {"postings": sum(len(set(t)) for t in toks),
                      "tokens": sum(len(t) for t in toks)}}


# -- curation corpus ---------------------------------------------------------

FILLER = ["today", "again", "briefly", "later", "calmly", "twice", "gently", "quietly",
          "formally", "kindly"]
SPANISH = ("La paciente %s vive en la ciudad de %s y es atendida por el equipo de la "
           "clínica que revisa los resultados de los análisis de sangre y de la presión.")
FRESH = ("Quarterly review %d: the committee approved the budget for the new library "
         "wing and the gardening volunteers of the district planned %d events.")


def shingles(text, k):
    toks = TOKEN_RE.findall(text.lower())
    return {" ".join(toks[i:i + k]) for i in range(max(len(toks) - k + 1, 1))}


def jaccard(a, b, k):
    x, y = shingles(a, k), shingles(b, k)
    return len(x & y) / len(x | y)


def edit_words(text, budget, rng):
    """Insert `budget` filler words at random word boundaries."""
    words = text.split(" ")
    for _ in range(budget):
        words.insert(rng.randint(1, len(words) - 1), rng.choice(FILLER))
    return " ".join(words)


def edit_until(text, budget, rng, ok):
    """`edit_words` retried, with `budget` +-1 words, until the edited text
    satisfies `ok`."""
    for i in range(120):
        t = edit_words(text, max(1, budget + (0, 1, -1)[i % 3]), rng)
        if ok(t):
            return t
    raise AssertionError("no edit met the planted similarity bounds")


# cleanCorpus parameters: 5-word shingles; near duplicates at Jaccard >= 0.7;
# an eval document contaminates a note sharing >= 20 rare shingles with it
# (templated notes share up to ~11 rare shingles by chance, copies ~30)
SHINGLE_K, MIN_JACCARD, MIN_COMMON = 5, 0.7, 20


def gen_curate(seed, out, cfg):
    n = round(cfg["scale"] * PAPER_NOTES)
    rng, recs, notes, _, _ = base_corpus(seed, n)
    docs = [{"doc_id": x["record_id"], "text": x["note"]} for x in notes]
    text = {d["doc_id"]: d["text"] for d in docs}
    ids = sorted(text)
    rng.shuffle(ids)
    nid = [n + 1]

    def add(t):
        docs.append({"doc_id": nid[0], "text": t})
        nid[0] += 1
        return nid[0] - 1

    removed = {}
    for src in ids[:cfg["exact_dups"]]:  # case and whitespace changes only
        t = text[src]
        removed[add(t.upper() if rng.random() < 0.5 else t.replace(" ", "  ", 3))] = "exact_dup"
    pos = cfg["exact_dups"]
    for src in ids[pos:pos + cfg["near_dups"]]:  # one inserted word
        t = edit_words(text[src], 1, rng)
        assert jaccard(text[src], t, SHINGLE_K) >= MIN_JACCARD + 0.03
        removed[add(t)] = "near_dup"
    pos += cfg["near_dups"]
    near = lambda a, b: jaccard(a, b, SHINGLE_K) >= MIN_JACCARD + 0.03
    far = lambda a, b: jaccard(a, b, SHINGLE_K) < MIN_JACCARD - 0.03
    hub, head = [i for i in ids[pos:] if len(TOKEN_RE.findall(text[i].lower())) >= 70][:2]
    # a hub: `hub_leaves` copies of one note, 3 inserted words each, all
    # near duplicates of it (a pair-graph node of that degree). Its
    # shingles then sit in hub_leaves + 1 <= 64 (maxDf) docs, so they
    # still block candidate pairs.
    for _ in range(cfg["hub_leaves"]):
        removed[add(edit_until(text[hub], 3, rng, lambda t: near(text[hub], t)))] = "near_dup_hub"
    # a chain: each link a few inserted words (~4.6% of its length) on from
    # the one before, a near duplicate of it but not of the link two back,
    # so the component is a path of `chain_len` hops and min-label
    # propagation needs one round per hop (components() allows 20)
    back, last, chain = None, text[head], [head]
    for _ in range(cfg["chain_len"]):
        budget = max(3, round(0.046 * len(TOKEN_RE.findall(last.lower()))))
        t = edit_until(last, budget, rng, lambda t: near(last, t) and (back is None or far(back, t)))
        chain.append(add(t))
        removed[chain[-1]] = "near_dup_chain"
        back, last = last, t
    evals = []
    # eval set overlaps known notes; sources carry no allergy, immunization
    # or practitioner sentences, whose phrases other notes share
    by_id = {r["record_id"]: r for r in recs}
    plain = [i for i in ids[pos:] if i not in (hub, head) and not (
        by_id[i]["allergy"] or by_id[i]["immunization"] or by_id[i]["practitioner"])]
    for src in plain[:cfg["eval_copies"]]:
        evals.append({"doc_id": 10_000_000 + len(evals), "text": edit_words(text[src], 1, rng)})
        removed[src] = "contaminated"
    for i in range(cfg["eval_fresh"]):
        evals.append({"doc_id": 10_000_000 + len(evals), "text": FRESH % (i, rng.randint(2, 90))})
    for i in range(cfg["spanish"]):
        r = rng.choice(recs)
        removed[add(SPANISH % (r["name"]["family"], r["address"]["city"]))] = "language"
    for i in range(cfg["short"]):
        removed[add("Follow up in %d weeks." % rng.randint(2, 9))] = "quality"
    for i in range(cfg["noisy"]):
        removed[add("!!! ### %d ??? ;;; the note was scanned badly ::: %s &&& ***"
                    % (i, "-" * rng.randint(20, 40)))] = "quality"
    write_array(os.path.join(out, "curate_docs.json"), docs)
    write_array(os.path.join(out, "eval_docs.json"), evals)
    survivors = sorted(d["doc_id"] for d in docs if d["doc_id"] not in removed)
    return {"docs": len(docs), "eval_docs": len(evals), "shingle_k": SHINGLE_K,
            "min_jaccard": MIN_JACCARD, "min_common": MIN_COMMON, "survivors": survivors,
            "hub": hub, "chain": chain,
            "removed": {str(k): v for k, v in sorted(removed.items())}}


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    cfg = WORKLOADS[workload]
    if workload in ("ingest", "rag"):
        exp = gen_graph_workload(seed, out, cfg["scale"])
    else:
        exp = gen_curate(seed, out, cfg)
    exp.update({"workload": workload, "seed": seed, "config": cfg})
    write_json(os.path.join(out, "expected.json"), exp)
    return exp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out)


if __name__ == "__main__":
    main()
