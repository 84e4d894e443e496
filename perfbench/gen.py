"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed and the size arguments:
the same call writes byte-identical files (random.Random is stable across
Python 3 releases for randrange/choice/shuffle). Each generator also
returns the ground truth the checks in checks.py compare against, so the
expected outputs never come from the program under test.
"""
import json
import os
import random

# Content words of biomedical abstracts: nouns, verbs and adjectives,
# so the POS tagger and the lemmatizer see every word class.
CONTENT = """
patient patients cohort trial trials study studies analysis outcome outcomes
risk risks disease diseases cancer tumor tumors cell cells gene genes protein
proteins receptor receptors therapy therapies treatment treatments dose doses
drug drugs mortality survival incidence prevalence infection infections virus
viruses bacteria antibody antibodies inflammation injury lesion lesions tissue
tissues organ organs liver kidney heart lung brain blood plasma serum marker
markers biomarker biomarkers expression pathway pathways mutation mutations
variant variants sample samples group groups control controls placebo
response responses effect effects factor factors level levels rate rates
model models method methods measurement measurements assay assays
imaging scan scans surgery procedure procedures complication complications
symptom symptoms diagnosis prognosis screening children adults women men
mice rats hospital clinic clinicians physicians nurses population populations
week weeks month months year years follow baseline interval intervals
concentration concentrations metabolism enzyme enzymes hormone hormones
insulin glucose lipid lipids cholesterol pressure artery arteries vessel
vessels membrane nucleus mitochondria sequence sequences genome genomes
transcription regulation signaling activation inhibition inhibitor
inhibitors agonist antagonist vaccine vaccines immunity exposure exposures
smoking obesity diabetes hypertension stroke asthma fracture fractures
pain fatigue depression anxiety cognition memory behavior behaviour
quality safety efficacy tolerance resistance sensitivity specificity
accuracy reliability validity evidence review reviews article articles
publication publications report reports case cases series registry
database databases network networks algorithm algorithms feature features
increase increased decrease decreased improve improved reduce reduced
induce induced inhibit inhibited enhance enhanced suppress suppressed
measure measured observe observed identify identified compare compared
evaluate evaluated assess assessed determine determined examine examined
investigate investigated report reported suggest suggested indicate
indicated demonstrate demonstrated show showed reveal revealed predict
predicted associate associated correlate correlated contribute contributed
regulate regulated mediate mediated develop developed receive received
treat treated diagnose diagnosed recruit recruited randomize randomized
significant significantly higher lower greater smaller novel potential
clinical clinically chronic acute severe mild moderate early late primary
secondary systemic local total mean median independent dependent adverse
positive negative normal abnormal elevated reduced common rare different
similar specific general previous recent current future multiple single
large small long short rapid slow strong weak effective safe stable
""".split()

# Function words (all in the NLTK English stopword list) used between
# content words, and in bulk to build documents the quality stage rejects.
FUNCTION = """
the of and a to in is was were with for on by as at from that this these
those which an be been are has have had not but or into than then there
their they we our its over under more most such no only so very can will
""".split()

FOREIGN = {
    "de": """der die das und ist nicht mit auf fuer von dem den ein eine
             einer wird wurde werden sind bei nach auch sich patienten
             studie ergebnisse behandlung krankheit zellen gruppe""".split(),
    "fr": """le la les et est pas avec sur pour de du des un une dans par
             sont ont etait patients etude resultats traitement maladie
             cellules groupe selon entre chez""".split(),
    "es": """el la los las y es no con sobre para de del un una en por son
             fue pacientes estudio resultados tratamiento enfermedad
             celulas grupo segun entre""".split(),
}

# The FIXTURES.md A2 article: its v1 keywords are the reference's only
# golden output (article, review, different, publication, breast,
# cancer, man).
GOLDEN_PMID = 123456
GOLDEN_ABSTRACT = ("This article is a review of the different publications "
                   "on breast cancer in men.")
GOLDEN_V1 = {"article", "review", "different", "publication", "breast",
             "cancer", "man"}

# Letters for planted tokens: consonants only (no English word, no
# stopword) and the token always ends in 'q', which no lemmatizer
# suffix rule (s, es, ies, ed, ing, er, est, men, ...) can strip.
_PLANT = "bcdfghjklmnprtvwxz"


def planted(prefix, i, width=5):
    s = []
    for _ in range(width):
        s.append(_PLANT[i % len(_PLANT)])
        i //= len(_PLANT)
    return prefix + "".join(s) + "q"


def _sentence(rng, n_words):
    words = []
    for _ in range(n_words):
        if rng.random() < 0.3:
            words.append(rng.choice(FUNCTION))
        else:
            words.append(rng.choice(CONTENT))
    return words


def _abstract(rng, token):
    sentences = []
    for s in range(rng.randint(4, 7)):
        words = _sentence(rng, rng.randint(10, 18))
        if s == 0:
            words.insert(rng.randrange(len(words) + 1), token)
        sentence = " ".join(words)
        sentence = sentence[0].upper() + sentence[1:]
        r = rng.random()
        # the reference's cleaning paths: digits and punctuation,
        # HTML-escaped tags and ASN.1 doubled-quote escapes
        if r < 0.15:
            sentence += " (p < 0.%02d, n = %d)" % (rng.randint(1, 5),
                                                   rng.randint(20, 900))
        elif r < 0.2:
            sentence += " &lt;i&gt;in vivo&lt;/i&gt;"
        elif r < 0.25:
            sentence += ' termed "%s"' % rng.choice(CONTENT)
        sentences.append(sentence + ".")
    return " ".join(sentences)


def _asn1_entry(pmid, year, month, abstract):
    lines = ["Pubmed-entry ::= {", "  pmid %d ," % pmid, "  medent {",
             "    em std { year %d , month %d } ," % (year, month)]
    if abstract is not None:
        lines.append('    abstract "%s" ,' % abstract.replace('"', '""'))
    lines += ["    status ok", "  }", "}"]
    return "\n".join(lines) + "\n"


def pubmed_pages(out_dir, seed, n_articles, page_size=250, years=2):
    """Write ASN.1 page files named {year}_{month}_num_{retstart}.

    Returns the truth: one dict per article with pmid, abstract (None
    when the article has none), year, month and the token planted in
    its abstract (None for abstract-less articles and the A2 article).
    """
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    first_year = 2000 + rng.randrange(20)
    pmid = 30000000 + rng.randrange(1000) * 10000
    truth = []
    for i in range(n_articles):
        year = first_year + (i * years) // n_articles
        month = 1 + (i * 12 * years // n_articles) % 12
        pmid += rng.randint(1, 7)
        if i == n_articles // 3:
            truth.append(dict(pmid=GOLDEN_PMID, abstract=GOLDEN_ABSTRACT,
                              year=year, month=month, token=None))
            continue
        if rng.random() < 0.08:
            truth.append(dict(pmid=pmid, abstract=None, year=year,
                              month=month, token=None))
            continue
        token = planted("zq", i)
        truth.append(dict(pmid=pmid, abstract=_abstract(rng, token),
                          year=year, month=month, token=token))
    pages = {}
    for a in truth:
        pages.setdefault((a["year"], a["month"]), []).append(a)
    for (year, month), arts in sorted(pages.items()):
        for start in range(0, len(arts), page_size):
            name = "%d_%d_num_%d" % (year, month, start)
            with open(os.path.join(out_dir, name), "w", newline="\n") as f:
                for a in arts[start:start + page_size]:
                    f.write(_asn1_entry(a["pmid"], a["year"], a["month"],
                                        a["abstract"]))
    return truth


# Distinct documents per batch that carry each probe term.
TERM_DOCS_PER_BATCH = 3


def funnel_batches(out_dir, seed, n_batches, batch_size):
    """Write NDJSON micro-batches (doc_id, text, lang) with increasing ids.

    Each batch mixes distinct English documents with planted exact
    duplicates, near duplicates (one word of an earlier document
    replaced, word-3-gram Jaccard ~0.9), non-English documents and two
    kinds of quality rejects (too short; mostly stopwords). There is one
    probe term per batch, and every batch plants each term in
    TERM_DOCS_PER_BATCH distinct documents, so the probe for term b
    after batch b has 3 * (b + 1) known answers. Returns the truth:
    per-document kind and batch, the terms, and the docs carrying each.
    """
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    terms = [planted("qt", i) for i in rng.sample(range(10 ** 6), n_batches)]
    distinct = []  # (doc_id, words) of every planted distinct document
    docs = []
    term_docs = {t: [] for t in terms}
    doc_id = 1000 + rng.randrange(1000)
    for b in range(n_batches):
        batch = []
        slots = rng.sample(range(batch_size), TERM_DOCS_PER_BATCH * n_batches)
        plant = {at: terms[j // TERM_DOCS_PER_BATCH] for j, at in enumerate(slots)}
        for at in range(batch_size):
            doc_id += rng.randint(1, 3)
            r = rng.random()
            kind = ("distinct" if r < 0.68 or not distinct or at in plant else
                    "exact" if r < 0.76 else
                    "near" if r < 0.84 else
                    "foreign" if r < 0.92 else
                    "short" if r < 0.96 else "stopwords")
            lang = "en"
            term = None
            if kind == "distinct":
                words = _sentence(rng, rng.randint(40, 90))
                term = plant.get(at)
                if term:
                    words.insert(rng.randrange(len(words)), term)
                distinct.append((doc_id, words))
                if term:
                    term_docs[term].append(doc_id)
            elif kind == "exact":
                words = rng.choice(distinct)[1]
            elif kind == "near":
                words = list(rng.choice(distinct)[1])
                at = rng.randrange(len(words))
                while words[at].startswith("qt"):
                    at = rng.randrange(len(words))
                words[at] = rng.choice(CONTENT) + "x"
            elif kind == "foreign":
                lang = rng.choice(sorted(FOREIGN))
                words = [rng.choice(FOREIGN[lang])
                         for _ in range(rng.randint(30, 60))]
            elif kind == "short":
                words = _sentence(rng, rng.randint(3, 8))
            else:
                words = [rng.choice(FUNCTION)
                         for _ in range(rng.randint(30, 50))]
                for _ in range(len(words) // 8):
                    words.insert(rng.randrange(len(words)),
                                 rng.choice(CONTENT))
            text = " ".join(words)
            batch.append(dict(doc_id=doc_id, text=text, lang=lang))
            docs.append(dict(doc_id=doc_id, kind=kind, batch=b))
        path = os.path.join(out_dir, "batch_%03d.json" % b)
        with open(path, "w", newline="\n") as f:
            for d in batch:
                f.write(json.dumps(d, sort_keys=True) + "\n")
    batch_of = {d["doc_id"]: d["batch"] for d in docs}
    for b, t in enumerate(terms):
        assert sum(batch_of[i] <= b for i in term_docs[t]) == \
            TERM_DOCS_PER_BATCH * (b + 1), (t, b)
    return dict(docs=docs, terms=terms, term_docs=term_docs)
