"""Interactive query REPL — the engine's twin of the reference's
IntDocVectorsForwardIndex main loop (IntDocVectorsForwardIndex.java:
243-322): type 1-2 words, get the top-10 (docid, score) hits.

Differences from the reference, on purpose:
- >2-word queries print a warning instead of TERMINATING the loop
  (reference :319 exits on 3+ words — P4);
- ties rank deterministically (score desc, docno asc);
- df is correct by default; pass --compat-df1 for reference-bug scores.

Usage:
    python -m simple_mapreduce_search_engine_information_retrieval__spark.repl \
        [sf_dir] [--compat-df1] [--stemmed] [--no-docids] \
        [--tokenizer sidecar.json] [--index store_dir]
Reads queries from stdin (one per line, blank line or EOF quits), so it
is scriptable: `echo "spark join" | python -m ...repl`.

With --index, queries serve from a PREBUILT on-disk index store
(plans/index_store: build_index writes it, open_index registers its
parts at startup) instead of deriving postings from the corpus — the
reference REPL's own shape (IntDocVectorsForwardIndex.java:243-322
reads a BUILT forward index, never the collection). Each query is
then index_store.search_indexed. The served scores are the correct-df
tf-idf, so --index rejects --compat-df1 and --stemmed (the store
holds unstemmed k=1 terms and correct df by construction); docid
display needs the corpus-side mapping, so hits print as
(rank, docno, score).

With --tokenizer, a `:tokenize <text>` line encodes the text to token
ids under the LOADED sidecar artifact (round 11) — either sidecar
format (the private bpe-tokenizer JSON or the public `tokenizers`
tokenizer.json) is auto-detected, so the REPL exercises both importers
outside tests. Encoding is a driver-side replay of the greedy merge
loop on ONE line of text (bounded by construction — no Spark job for
an interactive probe); symbols outside the frozen vocab print as
UNK_ID, the frozen-tokenizer OOV semantics. A byte-level public
artifact (HFImport.byte_level, r13) byte-expands the input pieces
before the replay.

With --index, `:wildcard pre*suf` and `:fuzzy term` print the top-10
store terms by df, served by index_store.wildcard_indexed and
index_store.fuzzy_indexed; a `:wildcard` argument without a star is an
exact dictionary lookup. --tokenizer composes with --index, so one
session serves ranked queries, term lookups AND :tokenize with no
corpus access.
"""

from __future__ import annotations

import sys


def _load_tokenizer(path: str):
    """(merges, ids_by_sym, byte_level) from a sidecar of EITHER format
    — one read, shape-dispatched in bpe.import_bpe_json_auto (r11
    review: the old loader sniffed with its own parse and the importer
    re-parsed). byte_level is True for a byte-level-learned public
    artifact (r13): its symbols are byte sequences, so :tokenize input
    must be byte-expanded before the merge replay."""
    from .plans.bpe import import_bpe_json_auto

    imp = import_bpe_json_auto(path)
    merges, id_pairs = imp
    return merges, dict(id_pairs), getattr(imp, "byte_level", False)


def _encode_text(
    text: str, merges, ids_by_sym, byte_level: bool = False
) -> list[int]:
    """One line of text -> token ids under the imported artifact: the
    same pre-tokenizer (BPE_PATTERN, SEP framing guard) and the same
    greedy one-pass-per-merge application the engine runs distributed —
    here as a plain Python replay because the input is one REPL line.
    Python re and Java regex agree on BPE_PATTERN's simple classes (the
    explicit WS_CHARS class exists exactly so all three engines frame
    alike)."""
    import re
    from collections import defaultdict

    from .plans.bpe import SEP, UNK_ID
    from .plans.textstats import BPE_PATTERN

    # The r11 replay ran a full pass over EVERY rank for every piece —
    # O(N_MERGES x len) per piece, visibly slow at the prompt under a
    # 32k-merge sidecar (r11 verdict #5). Index the list ONCE per call
    # (pair -> its rank positions, duplicates kept for adversarial
    # lists), then per piece repeatedly apply the NEXT rank >= the
    # sweep position whose pair is actually adjacent — exactly the
    # merge the in-order sweep would apply next, since it skips only
    # ranks whose pass would be a no-op. Sequential-rank semantics are
    # preserved bit-for-bit (the engine never revisits earlier ranks,
    # so neither does the position cursor); cost is O(N_MERGES) once
    # plus O(applied x len) per piece, independent of the merge count.
    rank_idx: dict = defaultdict(list)
    for i, (_rank, lhs, rhs, _n) in enumerate(merges):
        rank_idx[(lhs, rhs)].append(i)

    ids: list[int] = []
    for m in re.finditer(BPE_PATTERN, text.lower()):
        piece = m.group(0)
        if SEP in piece:
            continue
        if byte_level:
            # byte-sequence artifact (r13): one symbol per UTF-8 byte,
            # latin-1-faithful — the driver-side twin of
            # bpe.hf_byte_faithful_col, identity on ASCII pieces
            piece = piece.encode("utf-8").decode("latin-1")
        syms = list(piece)
        pos = 0
        while len(syms) >= 2:
            nxt = None
            for pair in set(zip(syms, syms[1:])):
                for i in rank_idx.get(pair, ()):
                    if i >= pos:
                        if nxt is None or i < nxt:
                            nxt = i
                        break  # positions ascend per pair: first >= pos wins
            if nxt is None:
                break
            _rank, lhs, rhs, _n = merges[nxt]
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == lhs and syms[i + 1] == rhs:
                    out.append(lhs + rhs)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
            pos = nxt + 1
        ids.extend(int(ids_by_sym.get(s, UNK_ID)) for s in syms)
    return ids


REPL_INDEX_NAME = "smse_repl_index"


def _term_lookup(spark, cmd: str, arg: str):
    """Top-10 store terms by df, with their df and cf. `:wildcard`
    takes pre*, *suf or pre*suf (index_store.wildcard_indexed) or a
    no-star exact term; `:fuzzy` is levenshtein spelling correction
    (index_store.fuzzy_indexed). The exact-match branch runs ahead of
    the library call on purpose: wildcard_indexed raises for a no-star
    pattern. Returns None on a multi-star pattern (caller prints
    usage)."""
    from pyspark.sql import functions as F

    from .plans.index_store import fuzzy_indexed, wildcard_indexed

    stats = spark.table(f"{REPL_INDEX_NAME}_stats")
    if cmd == ":fuzzy":
        scope = stats.join(fuzzy_indexed(spark, arg, name=REPL_INDEX_NAME), "term")
    elif "*" not in arg:
        scope = stats.filter(F.col("term") == arg)
    elif arg.count("*") > 1:
        return None
    else:
        scope = stats.join(wildcard_indexed(spark, arg, name=REPL_INDEX_NAME), "term")
    return (
        scope.orderBy(F.desc("df"), F.asc("term"))
        .limit(10)
        .select("term", "df", "cf")
    )


def _show_terms(df, out) -> None:
    rows = df.collect()
    if not rows:
        print("  (no terms)", file=out)
    for r in rows:
        print(f"  {r.term}  df {r.df}  cf {r.cf}", file=out)


def _take_path_flag(argv: list[str], flag: str, out) -> str | int | None:
    """Parse-and-remove one `<flag> PATH` pair from argv. Returns the
    path, None when the flag is absent, or the int exit code 2 on a
    usage error (repeated flag — the r11 ADVICE silent-sf_dir hazard —
    trailing flag, or a flag where the path should be)."""
    if argv.count(flag) > 1:
        print(f"! {flag} given more than once", file=out)
        return 2
    if flag not in argv:
        return None
    i = argv.index(flag)
    if i + 1 >= len(argv) or argv[i + 1].startswith("--"):
        print(f"! {flag} requires a path", file=out)
        return 2
    path = argv[i + 1]
    del argv[i : i + 2]
    return path


def main(argv: list[str] | None = None, out=None) -> int:
    argv = list(sys.argv[1:] if argv is None else argv)
    out = out or sys.stdout
    compat = "--compat-df1" in argv
    stemmed = "--stemmed" in argv
    docids = "--no-docids" not in argv
    tokenizer = None
    tok_path = _take_path_flag(argv, "--tokenizer", out)
    if tok_path == 2:
        return 2
    if tok_path is not None:
        try:
            tokenizer = _load_tokenizer(tok_path)
        except (OSError, ValueError) as exc:
            print(f"! --tokenizer: {exc}", file=out)
            return 2
    index_dir = _take_path_flag(argv, "--index", out)
    if index_dir == 2:
        return 2
    if index_dir is not None and (compat or stemmed):
        # the store serves correct-df unstemmed scores by construction
        # (see module docstring) — refuse the contradictory flags
        print("! --index serves correct-df unstemmed scores; drop "
              "--compat-df1/--stemmed", file=out)
        return 2
    argv = [a for a in argv if not a.startswith("--")]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"

    from .plans.search import search, search_fidelity, search_with_docids
    from .session import get_spark

    spark = get_spark("smse-repl")
    spark.sparkContext.setLogLevel("ERROR")
    if index_dir is not None:
        from .plans.index_store import open_index

        try:
            open_index(spark, index_dir, REPL_INDEX_NAME)
        except Exception as exc:  # noqa: BLE001 — bad path/layout
            print(f"! --index: not a built index store: {exc}", file=out)
            return 2
        print(f"index store: {index_dir}  mode: correct (served)", file=out)
    else:
        print(f"index: {sf_dir}  mode: "
              f"{'compat_df1' if compat else 'correct'}{' stemmed' if stemmed else ''}",
              file=out)
    prompt = "query (1-2 words, blank to quit): "
    print(prompt, end="", flush=True, file=out)
    for line in sys.stdin:
        q = line.strip()
        if not q:
            break
        # exact WORD match (r11 review, both passes: a bare startswith
        # silently encoded the tail of a typo like ':tokenizer hello';
        # an exact ':tokenize ' prefix missed the tab-separated form
        # and silently ran it as a search)
        if q.split(None, 1)[0] == ":tokenize":
            if tokenizer is None:
                print("! no sidecar loaded (start with --tokenizer PATH)",
                      file=out)
            else:
                parts = q.split(None, 1)
                ids = _encode_text(parts[1] if len(parts) > 1 else "",
                                   *tokenizer)
                print(f"  ids ({len(ids)}): {ids}", file=out)
        elif q.split(None, 1)[0] in (":wildcard", ":fuzzy"):
            cmd = q.split(None, 1)[0]
            if index_dir is None:
                print(f"! {cmd} serves from the index store (start with "
                      "--index DIR)", file=out)
            else:
                parts = q.split(None, 1)
                arg = parts[1].strip() if len(parts) > 1 else ""
                hits = _term_lookup(spark, cmd, arg) if arg else None
                if hits is None:
                    print("! usage: :wildcard pre*suf | :fuzzy term "
                          "(one '*' max)", file=out)
                else:
                    _show_terms(hits, out)
        elif len(q.split()) > 2:
            print("! queries are 1-2 words (reference REPL constraint)", file=out)
        elif index_dir is not None:
            from .plans.index_store import search_indexed
            from .plans.search import tokenize_query

            # the same query-side tokenize/stopword pipeline as the
            # corpus-derived path; a term missing from the store drops
            # out of the pushed-down IN scan (the J2 miss-skip)
            _show(search_indexed(
                spark, tokenize_query(q), name=REPL_INDEX_NAME
            ), out)
        elif stemmed:
            _show(search_fidelity(spark, sf_dir, q), out)
        elif docids:
            # the reference's display shape: docid via the J3 broadcast
            # mapping join (IntDocVectorsForwardIndex.java:310-312)
            _show(search_with_docids(
                spark, sf_dir, q, df_mode="compat_df1" if compat else "correct"
            ), out)
        else:
            _show(search(spark, sf_dir, q,
                         df_mode="compat_df1" if compat else "correct"), out)
        print(prompt, end="", flush=True, file=out)
    return 0


def _show(df, out) -> None:
    rows = df.collect()
    if not rows:
        print("  (no hits)", file=out)
    rows = sorted(rows, key=lambda r: r.rank)
    for r in rows:
        docid = f" [{r.docid}]" if "docid" in df.columns else ""
        print(f"  {r.rank:>2}. doc {r.docno:<8}{docid} score {r.score:.6f}",
              file=out)


if __name__ == "__main__":
    raise SystemExit(main())
