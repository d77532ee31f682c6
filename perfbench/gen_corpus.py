#!/usr/bin/env python3
"""Seeded Oyez-shaped transcript corpus for the `pipeline` workload.

Usage: python3 perfbench/gen_corpus.py --seed N --cases C --out DIR

Writes DIR/corpus/{term}_{case-name}.json (the only files the pipeline
reads) and DIR/expected.json (the counts the pipeline's run summary must
report). The documents follow the shapes of the repository's transcript
fixtures (src/test/resources/transcripts): nested sections -> turns ->
text_blocks with full speaker objects. About 2% of the cases are junk,
one of the three junk fixtures' shapes each: an empty `sections` array, a
missing `transcript`, malformed JSON.

Each valid case draws most of its words from one of K planted topic
vocabularies, so the case embeddings form K groups and HDBSCAN finds
clusters; a corpus with one shared vocabulary clusters to noise only.
The same seed gives byte-identical files.
"""
import argparse
import json
import random
from pathlib import Path

TOPICS = [
    "privilege executive subpoena tapes prosecutor grand jury confidential "
    "presidential communications immunity special counsel disclosure".split(),
    "tuition undocumented children schools equal protection classification "
    "residency education enrollment district funding alien".split(),
    "search warrant probable cause automobile exclusionary evidence officer "
    "seizure suspicion checkpoint consent trespass".split(),
    "copyright patent infringement license royalty trademark invention "
    "software fair use damages registrant novelty".split(),
]
COMMON = ("the court question whether case counsel argument record statute "
          "congress petitioner respondent rule would that this point here "
          "under decision federal state law because think").split()
SHORT = ["Thank you.", "Yes.", "Go ahead, counsel.", "Not at all."]
SPEAKERS = [
    ("John G. Roberts, Jr.", "Roberts", "john_g_roberts_jr"),
    ("Sandra Day O'Connor", "O'Connor", "sandra_day_oconnor"),
    ("Antonin Scalia", "Scalia", "antonin_scalia"),
    ("Ruth Bader Ginsburg", "Ginsburg", "ruth_bader_ginsburg"),
    ("Jane Advocate", "Advocate", "jane_advocate"),
    ("Lawrence Counsel", "Counsel", "lawrence_counsel"),
]
PARTIES = ("united-states smith jones nixon doe plyler state-of-ohio acme "
           "miller board-of-education garcia wong").split()
JUNK_EVERY = 50  # about 2% of the cases


def speaker(i):
    name, last, ident = SPEAKERS[i]
    return {"ID": 100 + i, "name": name, "last_name": last, "href": f"h{i}",
            "identifier": ident, "view_count": 0, "length_of_service": 0,
            "roles": None,
            "thumbnail": {"id": 200 + i, "mime": "image/png", "size": 1, "href": f"t{i}"}}


def block_text(rng, topic):
    n = rng.randint(6, 28)
    words = [rng.choice(TOPICS[topic]) if rng.random() < 0.75 else rng.choice(COMMON)
             for _ in range(n)]
    return " ".join(words).capitalize() + "."


def case_doc(rng, case_no, term, topic):
    """One valid oral-argument document; returns (doc, kept_blocks, kept_sections)."""
    sections, kept_blocks, kept_sections = [], 0, 0
    t = 0.0
    for _ in range(rng.randint(1, 3)):
        turns, kept_here = [], 0
        sec_start = t
        for _ in range(rng.randint(4, 10)):
            blocks = []
            turn_start = t
            for _ in range(rng.randint(1, 2)):
                text = rng.choice(SHORT) if rng.random() < 0.1 else block_text(rng, topic)
                stop = t + rng.randint(2, 40) * 0.5
                blocks.append({"start": t, "stop": stop, "byte_start": 0,
                               "byte_stop": len(text), "text": text})
                t = stop
                if len(text.split()) > 3:
                    kept_here += 1
            turns.append({"start": turn_start, "stop": t, "byte_start": 0,
                          "byte_stop": 0, "speaker": speaker(rng.randrange(len(SPEAKERS))),
                          "text_blocks": blocks})
        sections.append({"start": sec_start, "stop": t, "byte_start": 0,
                         "byte_stop": 0, "turns": turns})
        kept_blocks += kept_here
        kept_sections += 1 if kept_here else 0
    return base_doc(case_no, term, {"title": f"Case {case_no}", "duration": t,
                                    "sections": sections}), kept_blocks, kept_sections


def base_doc(case_no, term, transcript):
    doc = {"id": 30000 + case_no, "title": f"Oral Argument - Case {case_no}",
           "media_file": []}
    if transcript is not None:
        doc["transcript"] = transcript
    doc.update({"public_note": None, "unavailable": transcript is None,
                "damaged": None, "display_title": f"Case {case_no}",
                "term": str(term), "case_id": str(30000 + case_no),
                "docket_number": f"{term % 100:02d}-{case_no:04d}",
                "session": f"{term}-{(term + 1) % 100:02d}",
                "extracted_at": "2025-08-02T02:40:00",
                "extraction_id": f"{term}_{case_no}"})
    return doc


def generate(seed, cases, out):
    rng = random.Random(seed)
    corpus = Path(out, "corpus")
    corpus.mkdir(parents=True, exist_ok=True)
    exp = {"raw_documents": cases, "valid_documents": 0, "junk_documents": 0,
           "utterances": 0, "chunks": 0}
    for i in range(cases):
        term = rng.randint(1960, 2023)
        name = f"{rng.choice(PARTIES)}-v-{rng.choice(PARTIES)}-{i}"
        path = corpus / f"{term}_{name}.json"
        if i % JUNK_EVERY == JUNK_EVERY - 1:
            kind = (i // JUNK_EVERY) % 3
            if kind == 0:
                body = json.dumps(base_doc(i, term, {"title": "Empty", "duration": 0.0,
                                                     "sections": []}), indent=2)
            elif kind == 1:
                body = json.dumps(base_doc(i, term, None), indent=2)
            else:
                body = '{"id": %d, "title": "broken\nthis is not valid json {{{' % (30000 + i)
            exp["junk_documents"] += 1
        else:
            doc, kept, secs = case_doc(rng, i, term, rng.randrange(len(TOPICS)))
            body = json.dumps(doc, indent=2)
            exp["valid_documents"] += 1
            exp["utterances"] += kept
            exp["chunks"] += secs
        path.write_text(body + "\n", encoding="utf-8")
    exp["corpus_bytes"] = sum(p.stat().st_size for p in corpus.iterdir())
    exp["topics"] = len(TOPICS)
    Path(out, "expected.json").write_text(json.dumps(exp, indent=1, sort_keys=True) + "\n")
    return exp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--cases", type=int, default=1000)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.seed, a.cases, a.out)))


if __name__ == "__main__":
    main()
