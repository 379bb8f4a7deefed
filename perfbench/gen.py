"""Seeded inputs for the four benchmark workloads.

Everything here is a pure function of the seed. The program under test
only ever sees the generated inputs (parquet files, needle strings, wire
commands); the truth columns stay on this side for the correctness gate.

All corpora come from ``sources.synth.generate_transcripts_pdf``: entities
of ``VARIANTS`` near-duplicate conversations, ``TURNS`` turns each.
"""

from __future__ import annotations

import random

from blurrily_spark.sources.synth import generate_transcripts_pdf

ENTITIES = 2000          # 2000 x 4 x 5 = 40k turns, the frozen bench's sf0.1 size
VARIANTS = 4
TURNS = 5
WORDS = 10
PERTURBATIONS = 2

NEEDLES_PER_REQUEST = 8  # find_serve: needles per find/find_idf call
FIND_SHARE = 0.75        # find_serve: 3 find calls to 1 find_idf call
PUTS_PER_CYCLE = 20      # index_churn
RESENT_PER_CYCLE = 2     # index_churn: PUTs of refs the map already holds

_LETTERS = "abcdefghijklmnopqrstuvwxyz"


def transcripts(seed: int):
    """(transcripts frame without truth, truth frame).

    truth columns: ``conv_id, turn_idx, entity`` where ``entity`` is the
    planted (entity, turn) cluster a turn belongs to: the variants of one
    template turn are the duplicates linkage should merge.
    """
    pdf = generate_transcripts_pdf(
        ENTITIES, VARIANTS, TURNS, WORDS, PERTURBATIONS, seed=seed
    )
    truth = pdf[["conv_id", "turn_idx"]].copy()
    truth["entity"] = pdf["entity_true"] * TURNS + pdf["turn_idx"]
    return pdf.drop(columns=["entity_true"]), truth


def _typo(rng: random.Random, text: str) -> str:
    """One letter-level edit (insert, delete, substitute or swap) inside a
    word, so the needle stays a fuzzy copy of its source."""
    letters = [i for i, ch in enumerate(text) if ch.isalpha()]
    i = rng.choice(letters)
    op = rng.choice(("insert", "delete", "substitute", "swap"))
    ch = rng.choice(_LETTERS)
    if op == "insert":
        return text[:i] + ch + text[i:]
    if op == "delete" and len(letters) > 3:
        return text[:i] + text[i + 1 :]
    if op == "swap" and i + 1 < len(text) and text[i + 1].isalpha():
        return text[:i] + text[i + 1] + text[i] + text[i + 2 :]
    return text[:i] + ch + text[i + 1 :]


def needle_from(rng: random.Random, text: str) -> str:
    """2-4 consecutive words of ``text`` with one typo."""
    words = text.split()
    n = min(len(words), rng.randint(2, 4))
    start = rng.randrange(len(words) - n + 1)
    return _typo(rng, " ".join(words[start : start + n]))


def turns_table(seed: int):
    """find_serve corpus: ``(ref, text)`` for all 40k turns. Refs are a
    seeded permutation of 1..n, so ref order carries no entity order."""
    pdf, _ = transcripts(seed)
    refs = list(range(1, len(pdf) + 1))
    random.Random(seed).shuffle(refs)
    out = pdf[["text"]].copy()
    out.insert(0, "ref", refs)
    return out


def find_requests(seed: int, texts: list[str], n: int):
    """``n`` requests ``(kind, [needles])``; kind is 'find' or 'find_idf'."""
    rng = random.Random(seed * 7919 + 1)
    out = []
    for _ in range(n):
        kind = "find" if rng.random() < FIND_SHARE else "find_idf"
        out.append(
            (kind, [needle_from(rng, rng.choice(texts)) for _ in range(NEEDLES_PER_REQUEST)])
        )
    return out


def churn_inputs(seed: int, n_cycles: int):
    """index_churn inputs: the initial snapshot and the command script.

    Returns ``(initial, cycles)``. ``initial`` is ``[(ref, needle)]``, turn
    0 of every conversation (8k turns). Each cycle is a list of wire
    commands ``("PUT", needle, ref) | ("DELETE", ref) | ("FIND", needle)``:
    20 PUTs (new turns plus re-sent stored refs), 1-2 DELETEs of stored
    refs, then one FIND. The FIND needle is a typo'd copy of a needle PUT in
    the same cycle, or of a ref just deleted, so its answer depends on the
    cycle's writes.
    """
    pdf, _ = transcripts(seed)
    rng = random.Random(seed * 104729 + 3)
    turn0 = pdf[pdf["turn_idx"] == 0]
    later = pdf[pdf["turn_idx"] > 0]
    initial = [(i + 1, t) for i, t in enumerate(turn0["text"])]
    fresh = list(later["text"])
    rng.shuffle(fresh)
    texts = dict(initial)
    stored = [r for r, _ in initial]          # refs currently in the map
    next_ref = len(initial) + 1
    cycles = []
    for _ in range(n_cycles):
        cmds, put_texts = [], []
        n_before = len(stored)
        for _ in range(PUTS_PER_CYCLE - RESENT_PER_CYCLE):
            text = fresh.pop()
            ref, next_ref = next_ref, next_ref + 1
            texts[ref] = text
            cmds.append(("PUT", text, ref))
            put_texts.append(text)
            stored.append(ref)
        for _ in range(RESENT_PER_CYCLE):
            # a ref stored before this cycle: re-sending it is a no-op for
            # the index (first put wins) wherever it lands in the cycle
            ref = rng.choice(stored[:n_before])
            cmds.append(("PUT", rng.choice(fresh), ref))
        rng.shuffle(cmds)
        deleted = []
        for _ in range(rng.randint(1, 2)):
            i = rng.randrange(len(stored))
            stored[i], stored[-1] = stored[-1], stored[i]
            ref = stored.pop()
            deleted.append(ref)
            cmds.append(("DELETE", ref))
        source = texts[deleted[0]] if rng.random() < 0.25 else rng.choice(put_texts)
        cmds.append(("FIND", needle_from(rng, source)))
        cycles.append(cmds)
    return initial, cycles


def conversation_docs(seed: int):
    """corpus_dedup corpus: one document per conversation (its turns joined
    in order), ``(doc_id, text)`` plus the planted entity per doc_id.
    Variants of one entity are the near-duplicates."""
    pdf, _ = transcripts(seed)
    pdf = pdf.sort_values(["conv_id", "turn_idx"])
    docs = pdf.groupby("conv_id", sort=True)["text"].agg(" ".join).reset_index()
    ids = list(range(1, len(docs) + 1))
    random.Random(seed * 31 + 5).shuffle(ids)
    docs.insert(0, "doc_id", ids)
    truth = dict(zip(docs["doc_id"], docs["conv_id"].str.slice(1, 7).astype(int)))
    return docs[["doc_id", "text"]], truth
