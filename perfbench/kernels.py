"""NLP kernels run and timed in the Spark driver process.

The same loops give the single-process reference output the correctness
checks compare Spark's triples against, and the per-kernel CPU cost the
traced run reports.  They call the kernels' public functions in the order
the operators do (``nlp.assemble.extract_triples_from_clean_text`` for the
rule path, ``operators.tagger_infer``'s batch body for the neural path).
"""

from __future__ import annotations

import time
from collections import Counter

RULE_KERNELS = ("analyze", "apply_chunk_merges", "token_table",
                "create_triples", "enrich_with_paths", "filter_battery")
NEURAL_KERNELS = ("encode_sentence+expand_map", "HashEncoder.encode",
                  "forward_logits_flat", "pool_wordpieces_flat",
                  "decode_labels_flat", "tags_to_triples")


class KernelClock:
    """Accumulates thread CPU time per kernel name."""

    def __init__(self, names):
        self.cpu = dict.fromkeys(names, 0.0)

    def run(self, name, fn, *args):
        t = time.thread_time()
        out = fn(*args)
        self.cpu[name] += time.thread_time() - t
        return out


def rule_triples(docs: list[tuple[str, str]], clock: KernelClock | None = None
                 ) -> dict[str, Counter]:
    """url → Counter of (subj, pred, obj) from RAW page text."""
    from seq2kg_spark.functions.text_clean import clean_text_py
    from seq2kg_spark.nlp.assemble import (create_triples, enrich_with_paths,
                                           filter_battery)
    from seq2kg_spark.nlp.rules import apply_chunk_merges, token_table
    from seq2kg_spark.nlp.tagger import analyze

    clock = clock or KernelClock(RULE_KERNELS)
    out: dict[str, Counter] = {}
    for url, text in docs:
        clean = clean_text_py(text) if text is not None else None
        got: Counter = Counter()
        if clean:
            analysis = clock.run("analyze", analyze, clean)
            toks = clock.run("apply_chunk_merges", apply_chunk_merges,
                             analysis)
            rows = clock.run("token_table", token_table, toks)
            doc = clock.run("create_triples", create_triples, rows,
                            analysis.corefs)
            enriched = clock.run("enrich_with_paths", enrich_with_paths, doc)
            got.update(tuple(t) for t in clock.run(
                "filter_battery", filter_battery, enriched))
        out[url] = out.get(url, Counter()) + got
    return out


def neural_triples(docs: list[tuple[str, str]], weights, dim: int = 64,
                   clock: KernelClock | None = None, batch: int = 1
                   ) -> tuple[dict[str, Counter], int]:
    """url → Counter of (subj, pred, obj, subj_types, obj_types) with
    ``batch`` pages per forward pass (the operator runs one Arrow batch per
    pass); also returns the number of sentences."""
    import numpy as np

    from seq2kg_spark.functions.text_clean import clean_text_py
    from seq2kg_spark.nlp.encoder import HashEncoder
    from seq2kg_spark.nlp.gru import (ET_LABELS, TR_LABELS,
                                      decode_labels_flat, forward_logits_flat,
                                      pool_wordpieces_flat, tags_to_triples)
    from seq2kg_spark.nlp.wordpiece import WordPieceTokenizer
    from seq2kg_spark.operators.tagger_infer import (_WORD_RE, MAX_SENT_LEN,
                                                     _split_sentences)

    clock = clock or KernelClock(NEURAL_KERNELS)
    encoder, tok = HashEncoder(dim=dim), WordPieceTokenizer()

    def wordpieces(sent):
        wps, tok_to_wp = tok.encode_sentence(sent)
        wps = wps[:MAX_SENT_LEN]
        maps = [[i for i in idxs if i < MAX_SENT_LEN]
                for idxs in tok.expand_map(tok_to_wp, len(wps) + 1)]
        return wps, maps

    out: dict[str, Counter] = {url: Counter() for url, _ in docs}
    n_sents = 0
    for b in range(0, len(docs), batch):
        sent_url, sents = [], []
        for url, text in docs[b:b + batch]:
            clean = clean_text_py(text) if text is not None else None
            for s in (_split_sentences(_WORD_RE.findall(clean))
                      if clean else []):
                sent_url.append(url)
                sents.append(s)
        if not sents:
            continue
        n_sents += len(sents)
        enc = [clock.run("encode_sentence+expand_map", wordpieces, s)
               for s in sents]
        wps = [e[0] for e in enc]
        x = clock.run("HashEncoder.encode", encoder.encode, wps,
                      MAX_SENT_LEN)
        lengths = np.asarray([len(w) for w in wps], dtype=np.int64)
        tr, et, offs = clock.run("forward_logits_flat",
                                 forward_logits_flat, x, weights, lengths)
        row_ids, seg_starts, tok_offs = [], [], [0]
        for i, (_, maps) in enumerate(enc):
            for idxs in maps:
                seg_starts.append(len(row_ids))
                row_ids.extend(int(offs[i]) + j for j in idxs)
            tok_offs.append(tok_offs[-1] + len(maps))
        pooled = clock.run(
            "pool_wordpieces_flat", pool_wordpieces_flat,
            np.concatenate([tr, et], axis=1),
            np.asarray(row_ids, dtype=np.int64),
            np.asarray(seg_starts, dtype=np.int64))
        n_tr = tr.shape[1]
        tr_all = clock.run("decode_labels_flat", decode_labels_flat,
                           pooled[:, :n_tr], TR_LABELS)
        et_all = clock.run("decode_labels_flat", decode_labels_flat,
                           pooled[:, n_tr:], ET_LABELS)
        for i, sent in enumerate(sents):
            s, e = tok_offs[i], tok_offs[i + 1]
            n = min(len(sent), len(tr_all[s:e]))
            for t in clock.run("tags_to_triples", tags_to_triples,
                               sent[:n], tr_all[s:e][:n], et_all[s:e][:n]):
                out[sent_url[i]][(t["subj"], t["pred"], t["obj"],
                                  tuple(t["subj_types"]),
                                  tuple(t["obj_types"]))] += 1
    return out, n_sents
