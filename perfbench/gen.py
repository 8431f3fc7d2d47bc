"""Seeded input generators for the benchmark workloads.

Every generator takes the workload seed and writes plain files (CSV or
parquet) into an output directory; the engine only ever sees those files.
The same seed gives byte-identical files. Sizes and rates come from
params.json next to this file.

    python3 perfbench/gen.py WORKLOAD SEED OUTDIR
"""
import calendar
import csv
import json
import os
import sys
from datetime import date, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))


def load_params():
    with open(os.path.join(HERE, "params.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------------------
# ufc_dashboard: the three dlt-contract CSVs
# ---------------------------------------------------------------------------

DIVISIONS = ["Flyweight", "Bantamweight", "Featherweight", "Lightweight",
             "Welterweight", "Middleweight", "Light Heavyweight", "Heavyweight",
             "Women's Strawweight", "Women's Flyweight", "Women's Bantamweight",
             "Women's Featherweight"]
FIRST = ["Jon", "Amanda", "Conor", "Jose", "Daniel", "Stipe", "Khabib", "Holly",
         "Valentina", "Israel", "Kamaru", "Alex", "Max", "Dustin", "Justin",
         "Charles", "Islam", "Leon", "Sean", "Tony", "Rose", "Zhang", "Joanna",
         "Miesha", "Ronda", "Cris", "Anderson", "Georges", "Matt", "Frankie",
         "Demetrious", "Henry", "Aljamain", "Petr", "Brandon", "Deiveson",
         "Alexander", "Ilia", "Tom", "Ciryl", "Francis", "Cain", "Junior",
         "Chuck", "Randy", "Tito", "Rashad", "Lyoto", "Mauricio", "Quinton"]
LAST = ["Jones", "Nunes", "McGregor", "Aldo", "Cormier", "Miocic",
        "Nurmagomedov", "Holm", "Shevchenko", "Adesanya", "Usman", "Pereira",
        "Holloway", "Poirier", "Gaethje", "Oliveira", "Makhachev", "Edwards",
        "Strickland", "Ferguson", "Namajunas", "Weili", "Jedrzejczyk", "Tate",
        "Rousey", "Cyborg", "Silva", "St-Pierre", "Hughes", "Edgar", "Johnson",
        "Cejudo", "Sterling", "Yan", "Moreno", "Figueiredo", "Volkanovski",
        "Topuria", "Aspinall", "Gane", "Ngannou", "Velasquez", "dos Santos",
        "Liddell", "Couture", "Ortiz", "Evans", "Machida", "Rua", "Jackson",
        "Lawler", "Woodley", "Covington", "Whittaker", "Costa", "Romero",
        "Blachowicz", "Prochazka", "Ankalaev", "Hill", "Rakic", "Smith"]
SUBS = ["rear naked choke", "guillotine", "armbar", "triangle", "kimura",
        "arm triangle", "d'arce choke", "heel hook", "neck crank", "keylock"]
REFS = ["Herb Dean", "Marc Goddard", "Jason Herzog", "Dan Miragliotta",
        "Keith Peterson", "Mike Beltran", "John McCarthy", "Big John"]
CITIES = ["Las Vegas, Nevada, USA", "Denver, Colorado, USA",
          "New York City, New York, USA", "London, England",
          "Abu Dhabi, United Arab Emirates", "Sydney, Australia",
          "Rio de Janeiro, Brazil", "Toronto, Ontario, Canada", "Paris, France"]


def fmt_date(d, style):
    """The four formats of the staging date ladder."""
    abbr, full = calendar.month_abbr[d.month], calendar.month_name[d.month]
    return [f"{abbr} {d.day}, {d.year}", f"{full} {d.day}, {d.year}",
            f"{abbr} {d.year}", f"{full} {d.year}"][style]


def gen_ufc(seed, p, out):
    rng = np.random.default_rng(seed)
    n_events, fights_per_event = p["events"], p["fights_per_event"]
    # fighter pool: unique "First Last" names, each with a home division
    names = sorted({f"{FIRST[i % len(FIRST)]} {LAST[j]}"
                    for i in range(len(FIRST)) for j in range(len(LAST))})
    pool = [names[i] for i in rng.permutation(len(names))[:p["fighters"]]]
    home = {f: DIVISIONS[i % len(DIVISIONS)] for i, f in enumerate(pool)}
    by_div = {d: [f for f in pool if home[f] == d] for d in DIVISIONS}
    champ = {d: None for d in DIVISIONS}
    events, fights, vacancies = [], [], []
    start, fid = date(1993, 11, 12), 0
    for e in range(n_events):
        d = start + timedelta(days=int(e * 11400 / n_events))
        name = f"UFC {e + 1}: Night {e + 1}" if e % 3 else f"UFC Fight Night {e + 1}"
        raw_date = ("TBD" if rng.random() < p["bad_date_rate"]
                    else fmt_date(d, int(rng.integers(0, 4))))
        events.append([name, f"http://ufc.com/event/{e + 1}", raw_date,
                       CITIES[int(rng.integers(0, len(CITIES)))]])
        n = int(fights_per_event + rng.integers(-1, 2))
        for k in range(n):
            div = DIVISIONS[int(rng.integers(0, len(DIVISIONS)))]
            title = k == 0 and rng.random() < p["title_rate"]
            a, b = (str(x) for x in rng.choice(by_div[div], 2, replace=False))
            if title and champ[div] is not None and champ[div] not in (a, b):
                a = champ[div]
            if rng.random() < 0.05:  # a fighter visiting another division
                b = pool[int(rng.integers(0, len(pool)))]
                if b == a:
                    b = by_div[div][0] if by_div[div][0] != a else by_div[div][1]
            u = rng.random()
            if u < 0.02:
                outcome, method = "D/D", "Decision - Split"
            elif u < 0.05:
                outcome, method = "NC/NC", "Overturned"
            else:
                outcome = "W/L"
                m = rng.random()
                method = ("KO/TKO" if m < 0.33 else
                          f"Submission ({SUBS[int(rng.integers(0, len(SUBS)))]})" if m < 0.55 else
                          "Decision - Unanimous" if m < 0.85 else
                          "Decision - Split" if m < 0.95 else "Decision - Majority")
            rounds = 5 if title else 3
            if method.startswith("Decision"):
                rnd, clock = rounds, "5:00"
            else:
                rnd = int(rng.integers(1, rounds + 1))
                clock = f"{int(rng.integers(0, 5))}:{int(rng.integers(0, 60)):02d}"
            fmt = ("No Time Limit" if e < n_events // 40 else
                   "5 Rnd (5-5-5-5-5)" if rounds == 5 else "3 Rnd (5-5-5)")
            if rng.random() < 0.005:
                rnd, clock = "", ""
            if title:
                interim = rng.random() < p["interim_rate"]
                wc = f"{'Interim ' if interim else ''}UFC {div} Title Bout"
                if outcome == "W/L" and not interim:
                    champ[div] = a
                    if rng.random() < p["vacancy_rate"]:
                        vd = d + timedelta(days=int(rng.integers(30, 300)))
                        reason = ["strip", "retirement", "vacancy"][int(rng.integers(0, 3))]
                        vacancies.append([fmt_date(vd, int(rng.integers(0, 4))),
                                          a.split(" ", 1)[1],
                                          f"UFC {div} Championship", reason,
                                          f"{a} left the {div.lower()} title ({reason})."])
                        champ[div] = None
            else:
                wc = f"{div} Bout"
            fid += 1
            fights.append([name, f"{a} vs. {b}", outcome, wc, method, str(rnd),
                           clock, fmt, REFS[int(rng.integers(0, len(REFS)))],
                           f"http://ufc.com/fight/{fid}"])
    vacancies.append(["sometime", "Gracie", "UFC Lightweight Championship",
                      "strip", "Unparseable date row must be dropped."])
    os.makedirs(out, exist_ok=True)
    for fname, header, rows in [
            ("dim_ufc_event_details.csv", ["EVENT", "URL", "DATE", "LOCATION"], events),
            ("fact_ufc_fight_results.csv",
             ["EVENT", "BOUT", "OUTCOME", "WEIGHTCLASS", "METHOD", "ROUND", "TIME",
              "TIME FORMAT", "REFEREE", "URL"], fights),
            ("title_status_changes_outside_octagon.csv",
             ["date", "fighter", "weight_category", "reason", "statement"], vacancies)]:
        with open(os.path.join(out, fname), "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(header)
            w.writerows(rows)
    return {"events": len(events), "fights": len(fights), "vacancies": len(vacancies)}


# ---------------------------------------------------------------------------
# documents: multilingual word salad with PII, low-quality and duplicates
# ---------------------------------------------------------------------------

LANG_WORDS = {
    "en": ("the a an of and to in is value table".split(),
           "data model query system corpus token stream window merge cluster "
           "training quality filter language record result partition network "
           "signal pattern memory engine storage process update history".split()),
    "de": ("der die und das ist nicht ein zu".split(),
           "daten modell anfrage system korpus fenster ergebnis speicher "
           "verlauf muster netzwerk prozess aktualisierung".split()),
    "es": ("el la de y que los una por".split(),
           "datos modelo consulta sistema corpus ventana resultado memoria "
           "historia patron red proceso actualizacion".split()),
    "fr": ("le la et les des une est pour".split(),
           "donnees modele requete systeme corpus fenetre resultat memoire "
           "histoire motif reseau processus miseajour".split()),
    "zh": ([], "shuju moxing chaxun xitong yuliao chuangkou jieguo cunchu "
               "lishi moshi wangluo jincheng gengxin".split()),
}
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.55, 0.12, 0.12, 0.11, 0.10]


def luhn_card(rng):
    digits = [4] + [int(x) for x in rng.integers(0, 10, 14)]
    total = 0
    for i, d in enumerate(reversed(digits)):
        total += (d * 2 - 9 if d * 2 > 9 else d * 2) if i % 2 == 0 else d
    return "".join(map(str, digits + [(10 - total % 10) % 10]))


def pii_token(rng):
    k = int(rng.integers(0, 4))
    if k == 0:
        return f"user{int(rng.integers(0, 10**6))}@example.com"
    if k == 1:
        return f"+1 415 555 {int(rng.integers(1000, 10000))}"
    if k == 2:
        return f"https://www.example.org/page/{int(rng.integers(0, 10**5))}"
    return luhn_card(rng)


def doc_texts(rng, n, p):
    """n fresh documents (no planted duplicates): (texts, langs). Each word
    is a language marker (30%, where the language has markers) or a content
    word with a numeric suffix; some documents carry one PII token, some
    are low quality (punctuation after every word)."""
    langs = [LANGS[i] for i in rng.choice(len(LANGS), n, p=LANG_P)]
    lens = rng.integers(p["min_words"], p["max_words"] + 1, n)
    u_marker, u_word = rng.random(lens.sum()), rng.random(lens.sum())
    pii, lowq = rng.random(n) < p["pii_rate"], rng.random(n) < p["low_quality_rate"]
    vocab = {lang: (np.array(m), np.array([f"{w}{k}" for w in c for k in range(40)]))
             for lang, (m, c) in LANG_WORDS.items()}
    texts, at = [], 0
    for i, (lang, k) in enumerate(zip(langs, lens)):
        markers, content = vocab[lang]
        um, uw = u_marker[at:at + k], u_word[at:at + k]
        at += k
        words = content[(uw * len(content)).astype(int)]
        if len(markers):
            pick = um < 0.3
            words[pick] = markers[(uw[pick] * len(markers)).astype(int)]
        words = words.tolist()
        if pii[i]:
            words.insert(int(rng.integers(0, k)), pii_token(rng))
        if lowq[i]:
            words = [w + "!!" for w in words]
        texts.append(" ".join(words))
    return texts, langs


def near_copy(rng, text, edit_frac):
    """A near-duplicate: replace edit_frac of the words and append one word.
    On 40..160-word documents the 3-shingle Jaccard stays above 0.9."""
    words = text.split(" ")
    for i in rng.choice(len(words), int(len(words) * edit_frac), replace=False):
        words[i] = "edited" + str(int(rng.integers(0, 1000)))
    return " ".join(words) + " copy"


def plant_dups(rng, texts, pool, near_rate, exact_rate, edit_frac):
    """Overwrite a share of `texts` with near/exact copies drawn from `pool`
    (from earlier entries of `texts` itself when `pool is texts`)."""
    own = pool is texts
    u = rng.random(len(texts))
    for i in range(len(texts)):
        if u[i] >= near_rate + exact_rate or (own and i == 0):
            continue
        src = texts[int(rng.integers(0, i))] if own else pool[int(rng.integers(0, len(pool)))]
        texts[i] = src if u[i] < exact_rate else near_copy(rng, src, edit_frac)
    return texts


def write_docs(path, ids, texts, langs, rng):
    pq.write_table(pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{int(s)}" for s in rng.integers(0, 20, len(ids))],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}), path)


def gen_corpus(seed, p, out):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    sizes = {}
    # the already-served corpus (admission index is built over it in setup)
    served, served_l = doc_texts(rng, p["served_docs"], p)
    write_docs(f"{out}/served.parquet", np.arange(p["served_docs"]) + 10**8,
               served, served_l, rng)
    # the incoming raw documents: within-set dups plus dups of the served set
    texts, langs = doc_texts(rng, p["docs"], p)
    plant_dups(rng, texts, texts, p["near_dup_rate"], p["exact_dup_rate"], p["edit_frac"])
    plant_dups(rng, texts, served, p["served_dup_rate"], 0.0, p["edit_frac"])
    write_docs(f"{out}/docs.parquet", np.arange(p["docs"]), texts, langs, rng)
    # labeled slice for the classifier, DSIR target (clean English)
    lab, lab_l = doc_texts(rng, p["labeled_docs"], p)
    write_docs(f"{out}/labeled.parquet", np.arange(p["labeled_docs"]) + 2 * 10**8,
               lab, lab_l, rng)
    q = dict(p, pii_rate=0.0, low_quality_rate=0.0)
    tgt = [t for t, l in zip(*doc_texts(rng, p["target_docs"] * 3, q)) if l == "en"]
    tgt = tgt[:p["target_docs"]]
    write_docs(f"{out}/target.parquet", np.arange(len(tgt)) + 3 * 10**8,
               tgt, ["en"] * len(tgt), rng)
    # the oracle slice: a prefix of the raw documents, small enough for the
    # all-pairs DuckDB reference plan
    k = p["oracle_docs"]
    write_docs(f"{out}/oracle_docs.parquet", np.arange(k), texts[:k], langs[:k], rng)
    sizes.update(docs=p["docs"], served=p["served_docs"], labeled=p["labeled_docs"],
                 target=len(tgt), oracle=k)
    return sizes


GENERATORS = {"ufc_dashboard": gen_ufc, "corpus_pipeline": gen_corpus}


def generate(workload, seed, out):
    params = load_params()[workload]
    sizes = GENERATORS[workload](seed, params["gen"], out)
    with open(os.path.join(out, "inputs.json"), "w") as f:
        json.dump({"workload": workload, "seed": seed, "sizes": sizes}, f)
    return sizes


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
