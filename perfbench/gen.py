"""Seeded input generators owned by the benchmark.

The program under test only ever sees the files written here. Every
generator is a pure function of (seed, size): the same arguments give
byte-identical files, a different seed gives different ones.

Two families:

* transcripts (``fused``, ``stream``): conversations with a skewed number
  of turns, 1-6 sentences per turn and 0-k planted facts per turn, where k
  varies per conversation (mention density decides the scoring cost). The
  entity surface forms are drawn Zipf-like from a small gazetteer, so keys
  repeat within and across conversations. The generator records every
  mention it planted; :func:`expected_triples` derives the expected output
  from that record alone.
* documents (next to the ``fused`` inputs, for the Stages routes): the sf ``documents`` schema and
  vocabulary (single-space lowercase words from a 30-word vocabulary,
  ``lang``, ``source = src<doc_id % 20>``, ``n_chars``), with planted
  near-duplicate clusters (an earlier document plus a trailing ``dup``).
"""
import datetime
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

REL = "r_op_obj"
OP_CLASS = "e_op"
OBJ_CLASS = "e_obj"
OPS = ["merge", "filter", "scan", "sort", "join", "split", "probe", "fold",
       "hash", "emit", "load", "drain"]
OBJS = ["table", "vector", "stream", "batch", "index", "queue", "frame",
        "ledger", "cache", "shard", "bucket", "log"]
FILLER = ["the", "a", "step", "then", "reads", "from", "into", "with", "after",
          "before", "quickly", "every", "node", "worker", "result", "value",
          "output", "check", "was", "is", "and", "of", "to", "it", "we",
          "they", "now", "later", "again", "slow", "fast", "small", "large",
          "job"]
assert not (set(FILLER) & (set(OPS) | set(OBJS)))

# the vocabulary of the sf documents tables
DOC_VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
             "value", "data", "small", "join", "filter", "big", "group", "hash",
             "customer", "sort", "order", "slow", "line", "part", "fast", "row",
             "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_WEIGHTS = [0.41, 0.15, 0.15, 0.15, 0.14]

EPOCH = datetime.datetime(2025, 1, 1, tzinfo=datetime.timezone.utc)
MAX_TURNS = 40
# max planted facts per turn, drawn once per conversation
DENSITY = [0, 1, 1, 1, 1, 2, 2, 2, 4, 4, 8]
STREAM_BATCHES = 100
# documents written beside the fused transcripts, for the Stages routes
DOCUMENTS = 200

TURN_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC"))])
DOC_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64())])


def _strata(rng, size):
    """Endless uniforms in [0, 1), stratified in blocks of ``size``: each
    block holds one value from each of ``size`` equal strata, in seeded
    order. Every seed then draws nearly the same mix of conversation
    lengths, densities and document lengths, so seeds differ in content
    and order rather than in total work."""
    while True:
        block = [(i + rng.random()) / size for i in range(size)]
        rng.shuffle(block)
        yield from block


def gazetteer():
    """surface form -> entity class, the tagger the benchmark hands over."""
    return {**{w: OP_CLASS for w in OPS}, **{w: OBJ_CLASS for w in OBJS}}


def _zipf(rng, words):
    return rng.choices(words, weights=[1.0 / (i + 1) for i in range(len(words))])[0]


def _sentence(rng, mentions):
    """Filler words with the mention words inserted at random positions."""
    words = [rng.choice(FILLER) for _ in range(rng.randint(3, 10))]
    for w in mentions:
        words.insert(rng.randint(0, len(words)), w)
    words[0] = words[0].capitalize()
    return " ".join(words) + "."


def transcripts(seed, n_turns):
    """Exactly ``n_turns`` turns. Returns (rows, convs) where convs is
    ``[(conv_id, [(turn_idx, [(class, word), ...]), ...]), ...]`` — the
    planted mentions of every turn in text order."""
    rng = random.Random(f"transcripts:{seed}")
    lengths, densities = _strata(rng, 64), _strata(rng, len(DENSITY))
    gaz = gazetteer()
    rows, convs = [], []
    made = 0
    c = 0
    while made < n_turns:
        # Pareto(1.3) turns per conversation, capped
        n = min(MAX_TURNS, int((1 - next(lengths)) ** (-1 / 1.3)), n_turns - made)
        k = DENSITY[int(next(densities) * len(DENSITY))]
        conv_id = f"conv_{seed}_{c:06d}"
        turns = []
        for t in range(n):
            n_sent = 1 + min(5, int(rng.expovariate(0.7)))
            planted = [[] for _ in range(n_sent)]
            for _ in range(rng.randint(0, k)):
                planted[rng.randrange(n_sent)] += [_zipf(rng, OPS), _zipf(rng, OBJS)]
            if rng.random() < 0.3:  # a lone mention pairs across sentences/turns
                planted[rng.randrange(n_sent)].append(
                    _zipf(rng, OPS if rng.random() < 0.5 else OBJS))
            for p in planted:
                rng.shuffle(p)
            text = " ".join(_sentence(rng, p) for p in planted)
            mentions = [(gaz[w.lower()], w.lower())
                        for w in (x.strip(".") for x in text.split(" "))
                        if w.lower() in gaz]
            role = ("user", "assistant", "tool")[t % 3]
            rows.append({
                "conv_id": conv_id, "turn_idx": t, "role": role, "text": text,
                "tool": f"tool_{rng.randrange(4)}" if role == "tool" else None,
                "ts": EPOCH + datetime.timedelta(minutes=made)})
            turns.append((t, mentions))
            made += 1
        convs.append((conv_id, turns))
        c += 1
    return rows, convs


def triple_key(w1, w2):
    """Canonical key of an (op, obj) pair: entity strings ordered by class."""
    e1, e2 = f"{OP_CLASS}|{w1}", f"{OBJ_CLASS}|{w2}"
    return f"{REL}|{e2}|{e1}" if OBJ_CLASS <= OP_CLASS else f"{REL}|{e1}|{e2}"


def expected_triples(convs, window=1):
    """{(conv_id, key): minimal turn} for an extractor that accepts every
    candidate: an op mention in turn t pairs with every obj mention in
    turns t..t+window of the same conversation."""
    out = {}
    for conv_id, turns in convs:
        by_turn = dict(turns)
        for t1 in sorted(by_turn):
            for t2 in range(t1, t1 + window + 1):
                for c1, w1 in by_turn[t1]:
                    if c1 != OP_CLASS:
                        continue
                    for c2, w2 in by_turn.get(t2, ()):
                        if c2 == OBJ_CLASS:
                            out.setdefault((conv_id, triple_key(w1, w2)), t1)
    return out


def stream_batches(seed, convs, n_batches=STREAM_BATCHES):
    """Batch index of every turn: conversation c starts at batch s_c and
    its turn t arrives in batch s_c + t. The first n_batches conversations
    start at their own index (or as late as fits), so no batch is empty;
    the rest start at a seeded batch."""
    rng = random.Random(f"batches:{seed}")
    out = {}
    for c, (conv_id, turns) in enumerate(convs):
        last = n_batches - len(turns)
        start = min(c, last) if c < n_batches else rng.randrange(last + 1)
        for t, _ in turns:
            out[(conv_id, t)] = start + t
    return out


def documents(seed, n_docs):
    rng = random.Random(f"documents:{seed}")
    lengths, dups = _strata(rng, 64), _strata(rng, 25)
    rows = []
    originals = []
    for doc_id in range(n_docs):
        if next(dups) < 0.08 and originals:
            src = originals[min(len(originals) - 1, int(rng.expovariate(0.5)))]
            text, lang = src["text"] + " dup", src["lang"]
        else:
            n_words = 10 + int(next(lengths) * 91)
            text = " ".join(rng.choice(DOC_VOCAB) for _ in range(n_words))
            lang = rng.choices(LANGS, weights=LANG_WEIGHTS)[0]
        row = {"doc_id": doc_id, "text": text, "lang": lang,
               "source": f"src{doc_id % 20}", "n_chars": len(text)}
        if not text.endswith("dup") and rng.random() < 0.1:
            originals.insert(0, row)
        rows.append(row)
    return rows


def _write(rows, schema, path):
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path,
                   compression="snappy")


def generate(workload, seed, size, out_dir):
    """Write one workload's inputs into out_dir (which must exist)."""
    if workload in ("fused", "stream"):
        rows, convs = transcripts(seed, size)
        schema = TURN_SCHEMA
        if workload == "stream":
            batch_of = stream_batches(seed, convs)
            for r in rows:
                b = batch_of[(r["conv_id"], r["turn_idx"])]
                r["batch"] = b
                r["ts"] = EPOCH + datetime.timedelta(minutes=b)
            schema = schema.append(pa.field("batch", pa.int32()))
        _write(rows, schema, os.path.join(out_dir, "transcripts.parquet"))
        with open(os.path.join(out_dir, "gazetteer.tsv"), "w") as f:
            f.writelines(f"{w}\t{c}\n" for w, c in sorted(gazetteer().items()))
        exp = expected_triples(convs)
        with open(os.path.join(out_dir, "expected.json"), "w") as f:
            json.dump(sorted([c, k, t] for (c, k), t in exp.items()), f)
        if workload == "fused":
            _write(documents(seed, DOCUMENTS), DOC_SCHEMA,
                   os.path.join(out_dir, "documents.parquet"))
    else:
        raise ValueError(workload)
