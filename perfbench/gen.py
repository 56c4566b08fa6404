"""Seeded input generators for the product-path benchmark.

Every generator takes the seed as an argument and is a pure function of
its arguments: the same seed writes the same bytes.  Each one also returns
the counts its workload's correctness check compares against, derived
from the generated content alone (never from the program's output):

* ``page_html`` / ``expected_task``: one lblod-style notulen page and the
  quads its besluiten must yield per verdict;
* ``gen_delta``: a shared pages directory with history, a task-state
  table pre-populated with completed tasks, staged delta files (warm-up
  tasks and a trickle pool), and one larger task for the traced run;
* ``gen_corpus``: ``documents``/``embeddings`` tables with the schema of
  the repository's test tables, resampled from a seeded vocabulary and unit-sphere
  vectors, with planted exact and near duplicates.
"""
import json
import math
import os
import random

PREFIXES = ("besluit: http://data.vlaanderen.be/ns/besluit# "
            "prov: http://www.w3.org/ns/prov# "
            "eli: http://data.europa.eu/eli/ontology#")
WORDS = ("gemeenteraad besluit agenda punt stemming goedkeuring reglement "
         "budget subsidie straat wegenwerken verkeer school sport cultuur "
         "mobiliteit afval milieu retributie belasting personeel jeugd "
         "bibliotheek erfgoed ruimtelijke ordening vergunning zitting").split()
MONTHS = "Jan Feb Mar Apr May Jun Jul Aug Sep Oct Nov Dec".split()

GRAPH = "http://mu.semte.ch/graphs/harvesting"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
TASK_TYPE = "http://redpencil.data.gift/vocabularies/tasks/Task"
TASK_OPERATION = "http://redpencil.data.gift/vocabularies/tasks/operation"
TASK_INPUT = "http://redpencil.data.gift/vocabularies/tasks/inputContainer"
TASK_RESULTS = "http://redpencil.data.gift/vocabularies/tasks/resultsContainer"
HAS_FILE = "http://redpencil.data.gift/vocabularies/tasks/hasFile"
ADMS_STATUS = "http://www.w3.org/ns/adms#status"
DCT_CREATED = "http://purl.org/dc/terms/created"
DCT_MODIFIED = "http://purl.org/dc/terms/modified"
MU_UUID = "http://mu.semte.ch/vocabularies/core/uuid"
NFO_FILE = "http://www.semanticdesktop.org/ontologies/2007/03/22/nfo#FileDataObject"
NFO_NAME = "http://www.semanticdesktop.org/ontologies/2007/03/22/nfo#fileName"
NFO_SIZE = "http://www.semanticdesktop.org/ontologies/2007/03/22/nfo#fileSize"
OP_EXTRACTING = "http://lblod.data.gift/id/jobs/concept/TaskOperation/extracting"
STATUS = "http://redpencil.data.gift/id/concept/JobStatus/"
SCHEDULED_DELTA = ('[{"inserts":[{"subject":{"type":"uri","value":"%s"},'
                   '"predicate":{"type":"uri","value":"' + ADMS_STATUS + '"},'
                   '"object":{"type":"uri","value":"' + STATUS + 'scheduled"}}],'
                   '"deletes":[]}]')
NOW = "2026-01-01T00:00:00Z"
DEBUG_FILES_PER_PAGE = 4  # -valid, -original, -invalid, -corrected

# delta_stream sizes: the state's history, the pages of a service task,
# and the deltas staged for a run
HISTORY_TASKS = 20
HISTORY_PAGES_PER_TASK = 5
TASK_PAGES = 5
P_HTML = 0.5            # share of besluiten with an rdf:HTML body
WARMUP_TASKS = 1        # untimed, on the cold JVM
TRICKLE_POOL = 8        # trickle tasks staged; a run drops as many as fit
MIN_TRICKLE = 4         # ... but never fewer than this
BULK_PAGES = 8          # the traced run's bulk task
BULK_POISON = 2

# corpus_ops sizes
CORPUS_DOCS = 200
CORPUS_VECS = 100
CORPUS_DIM = 64


def besluit_html(rng, page_id, j, repair, bad, body):
    """One besluit and its expected quad verdicts.

    Quads: rdf:type, eli:title, eli:cites and the G3 provenance quad are
    always valid; the publication date is valid, or repairable when
    ``repair``; ``bad`` adds an xsd:decimal number no rule repairs; the
    rdf:HTML ``body`` (externalized to a file) is valid.
    """
    subject = f"http://data.lblod.info/id/besluiten/{page_id}-{j}"
    title = " ".join(rng.choice(WORDS) for _ in range(6))
    year, month, day = rng.randint(2015, 2025), rng.randint(1, 12), rng.randint(1, 28)
    date = (f"{MONTHS[month - 1]} {day}, {year}" if repair
            else f"{year:04d}-{month:02d}-{day:02d}")
    parts = [f'<div about="{subject}" typeof="besluit:Besluit">',
             f'<span property="eli:title">{title}</span>',
             f'<span property="eli:date_publication" datatype="xsd:date" content="{date}"></span>']
    if bad:
        parts.append('<span property="eli:number" datatype="xsd:decimal" content="1.5"></span>')
    if body:
        # the page and besluit ids make every body, and so every
        # content-addressed file name, unique
        words = " ".join(rng.choice(WORDS) for _ in range(50))
        parts.append(f'<div property="prov:value" datatype="rdf:HTML">'
                     f'<p>Besluit {page_id}-{j}: {words}</p></div>')
    parts.append(f'<a property="eli:cites" href="http://data.lblod.info/id/besluiten/{page_id}-{max(j - 1, 0)}">vorige</a></div>')
    verdicts = {"valid": 4 + (0 if repair else 1) + (1 if body else 0),
                "corrected": 1 if repair else 0,
                "invalid": 1 if bad else 0,
                "html": 1 if body else 0}
    return "".join(parts), verdicts


def _flags(rng, n, share):
    """Exactly ``round(n * share)`` of ``n`` positions set, at seeded places:
    the seed varies the content, never the amount of work."""
    k = round(n * share)
    flags = [True] * k + [False] * (n - k)
    rng.shuffle(flags)
    return flags


POISON_KINDS = ("deep", "garbage")


def poison_html(rng, kind):
    """A page the extractor must survive: nesting deep enough to overflow
    a recursive tree walk, or bytes that are not markup. Neither carries
    RDFa, so it yields zero quads however the extractor copes with it."""
    if kind == "deep":
        depth = 5000
        return ('<html prefix="' + PREFIXES + '"><body>' + "<div>" * depth + "x" +
                "</div>" * depth + "</body></html>")
    return "".join(chr(rng.choice([0x3c, 0x3e, 0x26, 0x22, 0x3d, 0x7f, 0xfffd,
                                   rng.randint(0x20, 0x7e)])) for _ in range(3000))


def page_html(rng, page_id, n_besluit, p_html):
    """A notulen page with ``n_besluit`` besluiten -> (html, counts): half
    the dates need repair, one in eight besluiten carries a literal no rule
    repairs, a ``p_html`` share has an rdf:HTML body."""
    counts = {"valid": 0, "corrected": 0, "invalid": 0, "html": 0}
    body = []
    flags = zip(_flags(rng, n_besluit, 0.5), _flags(rng, n_besluit, 0.125),
                _flags(rng, n_besluit, p_html))
    for j, (repair, bad, has_body) in enumerate(flags):
        html, v = besluit_html(rng, page_id, j, repair, bad, has_body)
        body.append(html)
        for k in counts:
            counts[k] += v[k]
    html = ('<html prefix="' + PREFIXES + '"><head><title>Notulen ' + str(page_id) +
            '</title></head><body><h1>Zitting</h1>' + "\n".join(body) + "</body></html>")
    return html, counts


def ttl_lines(counts):
    """Expected N-Triples line count per sink partition for verdict counts
    (the reference's overlapping partitions, ExtractPipeline.writeTtl)."""
    v, c, i = counts["valid"], counts["corrected"], counts["invalid"]
    return {"valid": v + c, "original": v + c + i, "invalid": i + c, "corrected": c}


def add_counts(total, counts):
    for k, n in counts.items():
        total[k] = total.get(k, 0) + n
    return total


def _write(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write(text)


def task_quads(task, container, pages, status, uuid):
    q = [(task, RDF_TYPE, TASK_TYPE), (task, MU_UUID, uuid),
         (task, ADMS_STATUS, STATUS + status), (task, TASK_OPERATION, OP_EXTRACTING),
         (task, DCT_CREATED, NOW), (task, DCT_MODIFIED, NOW),
         (task, TASK_INPUT, container)]
    q += [(container, HAS_FILE, "share://" + p) for p in pages]
    return q


def write_quads(path, quads):
    lines = [json.dumps({"subject": s, "predicate": p, "obj": o, "graph": GRAPH},
                        sort_keys=True) for s, p, o in quads]
    _write(path, "\n".join(lines) + "\n")


def gen_pages(rng, out_dir, names, besluit_range, p_html, n_poison=0):
    """Write pages; returns per-page expected counts (poison pages: 0).
    Besluit counts are spread evenly over ``besluit_range`` and shuffled,
    so their sum does not depend on the seed."""
    expected = {}
    poison_at = sorted(rng.sample(range(len(names)), n_poison)) if n_poison else []
    lo, hi = besluit_range
    sizes = [lo + (i * (hi - lo)) // max(1, len(names) - 1) for i in range(len(names))]
    rng.shuffle(sizes)
    for idx, name in enumerate(names):
        if idx in poison_at:
            html = poison_html(rng, POISON_KINDS[poison_at.index(idx) % len(POISON_KINDS)])
            counts = {"valid": 0, "corrected": 0, "invalid": 0, "html": 0}
        else:
            html, counts = page_html(rng, name.rsplit(".", 1)[0], sizes[idx], p_html)
        _write(os.path.join(out_dir, name), html)
        expected[name] = counts
    return expected


def expected_task(page_counts, debug):
    """Expected outputs of one task over its pages."""
    total = {"valid": 0, "corrected": 0, "invalid": 0, "html": 0}
    for c in page_counts:
        add_counts(total, c)
    lines = ttl_lines(total)
    if not debug:
        lines = {"valid": lines["valid"]}
    return {"ttl_lines": lines, "html_files": total["html"],
            "registered_files": len(page_counts) * (DEBUG_FILES_PER_PAGE if debug else 1),
            "pages": len(page_counts), "quads": total["valid"] + total["corrected"] + total["invalid"]}


def gen_delta(seed, root):
    """delta_stream: a shared pages directory (history + new task pages),
    a state table pre-populated with completed tasks, and staged delta
    files: warm-up tasks and a pool of trickle tasks the harness drops one
    at a time.  Also one larger task (HTML
    bodies in most besluiten, poison pages) that the traced run executes
    directly with debug TTLs on."""
    rng = random.Random(f"delta:{seed}")
    pages_dir = os.path.join(root, "pages")
    quads = []
    for h in range(HISTORY_TASKS):
        names = [f"hist-{h:04d}-{k}.html" for k in range(HISTORY_PAGES_PER_TASK)]
        gen_pages(rng, pages_dir, names, (1, 3), P_HTML)
        task = f"http://data.lblod.info/id/tasks/hist-{seed}-{h}"
        quads += task_quads(task, task + "/input", names, "success", f"hist-{seed}-{h}")
        for n in names:  # the metadata a completed task registered
            f = f"http://data.lblod.info/id/files/hist-{seed}-{h}-{n}"
            quads += [(f, RDF_TYPE, NFO_FILE), (f, NFO_NAME, n.replace(".html", "-valid.ttl")),
                      (f, NFO_SIZE, str(rng.randint(500, 9000))),
                      (task + "/results", HAS_FILE, f)]
        quads.append((task, TASK_RESULTS, task + "/results"))
    # a task a crashed run left busy: startup recovery must fail it
    stale = f"http://data.lblod.info/id/tasks/stale-{seed}"
    quads += task_quads(stale, stale + "/input", [], "busy", f"stale-{seed}")

    expected = {}

    def new_task(name, pages, besluit_range, html_share, n_poison=0, debug=False):
        task = f"http://data.lblod.info/id/tasks/{name}-{seed}"
        counts = gen_pages(rng, pages_dir, pages, besluit_range, html_share, n_poison)
        quads.extend(task_quads(task, task + "/input", pages, "scheduled", f"{name}-{seed}"))
        expected[task] = expected_task([counts[p] for p in pages], debug)
        return task

    def delta(name):
        task = new_task(name, [f"{name}-{k}.html" for k in range(TASK_PAGES)], (5, 35), P_HTML)
        _write(os.path.join(root, "staged", f"{name}.json"), SCHEDULED_DELTA % task + "\n")
        return {"task": task, "file": f"{name}.json"}

    warmup = [delta(f"warmup{k}") for k in range(WARMUP_TASKS)]
    trickle = [delta(f"trickle{k:03d}") for k in range(TRICKLE_POOL)]
    bulk_names = [f"notulen-{seed}-{i:04d}.html" for i in range(BULK_PAGES)]
    bulk = new_task("bulk", bulk_names, (5, 35), 0.8, BULK_POISON, debug=True)
    write_quads(os.path.join(root, "state.jsonl"), quads)
    return {"workload": "delta_stream", "seed": seed, "pages_dir": pages_dir,
            "staged_dir": os.path.join(root, "staged"), "warmup": warmup,
            "trickle": trickle, "min_trickle": MIN_TRICKLE,
            "stale_task": stale, "bulk_task": bulk,
            "expected": expected}


def _doc_text(rng, n_words):
    return " ".join(rng.choice(CORPUS_WORDS) for _ in range(n_words))


CORPUS_WORDS = ("spark window merge table column vector stream value data small "
                "join filter big group hash customer sort order slow line part fast "
                "row the agg key query a scan batch").split()
LANGS = ["en"] * 41 + ["es"] * 15 + ["zh"] * 15 + ["de"] * 14 + ["fr"] * 15


def gen_corpus(seed, root):
    """corpus_ops: documents(doc_id, text, lang, source, n_chars) and
    embeddings(vec_id, embedding FLOAT[64], label) as parquet.

    Like the repository's test tables: 30-word vocabulary texts of 10-100 words,
    20 round-robin sources, one doc in twenty a near-duplicate of an
    earlier doc (`... dup`), a few exact-duplicate texts; embeddings are
    unit vectors with ten labels, a few near-copies of earlier vectors.
    Lengths and duplicate shares are fixed; the seed places them.
    """
    import duckdb
    rng = random.Random(f"corpus:{seed}")
    n_docs, n_vecs, dim = CORPUS_DOCS, CORPUS_VECS, CORPUS_DIM
    lengths = [10 + (90 * i) // max(1, n_docs - 1) for i in range(n_docs)]
    rng.shuffle(lengths)
    near, exact = _flags(rng, n_docs - 21, 0.05), _flags(rng, n_docs - 21, 0.005)
    docs = []
    for i in range(n_docs):
        if i > 20 and near[i - 21]:
            base = docs[rng.randrange(len(docs))][1].split(" ")
            base[rng.randrange(len(base))] = rng.choice(CORPUS_WORDS)
            text = " ".join(base) + " dup"
        elif i > 20 and exact[i - 21]:
            text = docs[rng.randrange(len(docs))][1]
        else:
            text = _doc_text(rng, lengths[i])
        docs.append((i, text, rng.choice(LANGS), f"src{i % 20}", len(text)))
    copies = _flags(rng, n_vecs - 11, 0.03)
    vecs = []
    for i in range(n_vecs):
        if i > 10 and copies[i - 11]:
            v = [x + rng.gauss(0, 0.02) for x in vecs[rng.randrange(len(vecs))][1]]
        else:
            v = [rng.gauss(0, 1) for _ in range(dim)]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append((i, [x / norm for x in v], rng.randrange(10)))
    os.makedirs(root, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads=1")
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR, lang VARCHAR, "
                "source VARCHAR, n_chars BIGINT)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?, ?, ?)", docs)
    con.execute("CREATE TABLE embeddings(vec_id BIGINT, embedding FLOAT[], label INTEGER)")
    con.executemany("INSERT INTO embeddings VALUES (?, ?, ?)", vecs)
    for t in ("documents", "embeddings"):
        con.execute(f"COPY (SELECT * FROM {t} ORDER BY 1) TO "
                    f"'{os.path.join(root, t + '.parquet')}' (FORMAT PARQUET)")
    con.close()
    return {"workload": "corpus_ops", "seed": seed, "corpus_dir": root,
            "n_docs": n_docs, "n_vecs": n_vecs}
