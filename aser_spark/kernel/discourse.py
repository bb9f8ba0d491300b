"""Discourse-path extraction (v2.0 pipeline): the full ASER discourse
stack — connective scan + LR filter (D2), SS/PS argument-position split
(D3), SS constituent / PS clause argument extraction (D4/D5), explicit
sense classification (D6), clause segmentation (P4), and per-clause
seed-rule re-extraction (P5).

All five classifier stages run the REFERENCE'S OWN LR WEIGHTS (frozen from
aser/extract/discourse/*.pkl into aser_spark/resources, see
scripts/freeze_discourse_models.py) over featurizers that are bit-exact vs
the reference's (fixtures/golden_connective_features.jsonl) — inference is
pure numpy (kernel/discourse_models.py).

* ``extract_connective_candidates`` — the longest-match scan of
  /root/reference/aser/extract/discourse_parser.py:469-545
  (ConnectiveExtractor._extract_connectives_by_tokens): every surface match
  of a PDTB explicit connective (including the paired ``x..y`` forms),
  longest-first, overlapping spans suppressed.  (The reference's rebinding
  of the loop variable inside the paired-connective branch is NOT
  mirrored: with this connective inventory the only reachable effect is an
  extra overlapping candidate that the used-indices filter then drops, so
  the filtered output is provably identical.)
* ``extract_document_eventualities_discourse`` — the
  DiscourseEventualityExtractor loop (eventuality_extractor.py:593-718):
  classifier-accepted connective token positions become clause separators,
  each clause's token/lemma/pos/dependency slice is REMAPPED to
  clause-local indices and re-extracted with the seed-rule kernel, results
  are mapped back to sentence coordinates and deduplicated on
  (eid, raw token mapping).
* ``extract_paragraph_relations_discourse`` — the
  DiscourseRelationExtractor pipeline (relation_extractor.py:348-466):
  sentences without eventualities are replaced by the empty-sentence
  parse (while keeping their REAL syntax trees, mirroring the reference's
  shared ``syntax_tree_cache``, aser_extractor.py:819), connectives are
  extracted + classified, split SS/PS, argument spans extracted with the
  constituent/clause models, senses classified, and each (arg1, arg2)
  pair Simpson-matched to eventualities with 1/(|E1|*|E2|) weights.

The connective inventory is the public PDTB explicit-connective list (the
reference ships it as discourse/conn_feats/exp_conn.txt; originally from
the PDTB 2.0 corpus / Wang & Lan CoNLL-2015 parser resources).
"""

from __future__ import annotations

from . import memo as _memo
from .clauses import PUNCTUATION_SET, get_clauses, strip_punctuations
from .extractor import extract_sentence_eventualities

# PDTB 2.0 explicit connectives (public data; reference exp_conn.txt)
EXPLICIT_CONNECTIVES = [
    "accordingly", "additionally", "after", "afterward", "also",
    "alternatively", "although", "and", "as", "as a result",
    "as an alternative", "as if", "as long as", "as soon as", "as though",
    "as well", "because", "before", "before and after", "besides", "but",
    "by comparison", "by contrast", "by then", "consequently", "conversely",
    "earlier", "either..or", "else", "except", "finally", "for",
    "for example", "for instance", "further", "furthermore", "hence",
    "however", "if", "if and when", "if..then", "in addition", "in contrast",
    "in fact", "in other words", "in particular", "in short", "in sum",
    "in the end", "in turn", "indeed", "insofar as", "instead", "later",
    "lest", "likewise", "meantime", "meanwhile", "moreover", "much as",
    "neither..nor", "nevertheless", "next", "nonetheless", "nor", "now that",
    "on the contrary", "on the one hand..on the other hand",
    "on the other hand", "once", "or", "otherwise", "overall", "plus",
    "previously", "rather", "regardless", "separately", "similarly",
    "simultaneously", "since", "so", "so that", "specifically", "still",
    "then", "thereafter", "thereby", "therefore", "though", "thus", "till",
    "ultimately", "unless", "until", "when", "when and if", "whereas",
    "while", "yet",
]
_SORTED_CONN = sorted(EXPLICIT_CONNECTIVES)

__all__ = ["EXPLICIT_CONNECTIVES", "extract_connective_candidates",
           "classify_connectives", "extract_ss_arguments",
           "extract_ps_arguments", "classify_senses",
           "extract_sentence_eventualities_discourse",
           "extract_document_eventualities_discourse",
           "extract_paragraph_relations_discourse"]


def _index_from(tokens, word, start_from=0):
    for i in range(start_from, len(tokens)):
        if tokens[i] == word:
            yield i


def extract_connective_candidates(tokens):
    """All surface connective matches: [{"connective", "indices"}], longest
    match first with overlapping spans suppressed
    (discourse_parser.py:469-545, bit-for-bit semantics)."""
    import bisect

    all_conns = []
    low = [t.lower() for t in tokens]
    n = len(low)
    for t_idx, token in enumerate(low):
        c_idx = bisect.bisect_left(_SORTED_CONN, token)
        while c_idx < len(_SORTED_CONN):
            conn = _SORTED_CONN[c_idx]
            c_idx += 1
            if len(conn) < len(token):
                break
            if not conn.startswith(token):
                break
            if ".." in conn:
                parts = [c.split() for c in conn.split("..")]
                if parts[0][0] != token:
                    break
                if len(parts[0]) + t_idx <= n:
                    if any(low[w + t_idx] != c for w, c in enumerate(parts[0])):
                        continue
                    first = list(range(t_idx, t_idx + len(parts[0])))
                    for s_idx in _index_from(low, parts[1][0], start_from=t_idx):
                        if len(parts[1]) + s_idx <= n and all(
                            low[w + s_idx] == c for w, c in enumerate(parts[1])
                        ):
                            all_conns.append({
                                "connective": conn,
                                "indices": first + list(
                                    range(s_idx, s_idx + len(parts[1]))),
                            })
            else:
                parts = conn.split()
                if parts[0] != token:
                    break
                if len(parts) + t_idx <= n and all(
                    low[w + t_idx] == c for w, c in enumerate(parts)
                ):
                    all_conns.append({
                        "connective": conn,
                        "indices": list(range(t_idx, t_idx + len(parts))),
                    })
    # longest-first, rightmost-first; drop spans overlapping an accepted one
    all_conns.sort(key=lambda x: (-len(x["indices"]), -x["indices"][0]))
    used: set = set()
    out = []
    for cand in all_conns:
        if any(i in used for i in cand["indices"]):
            continue
        used.update(cand["indices"])
        out.append(cand)
    return out


# The reference replaces eventuality-less sentences with this parse before
# relation extraction (aser/extract/utils.py:36-45); dependencies/ners/
# mentions omitted because no code path below reads them off this constant
EMPTY_SENT_PARSED = {
    "text": ".",
    "dependencies": [],
    "tokens": ["."],
    "lemmas": ["."],
    "pos_tags": ["."],
    "parse": "(ROOT (NP (. .)))",
}


def match_argument_eventuality(arg_indices, eventuality, method: str = "Simpson",
                               threshold: float = 0.8) -> bool:
    """J3 theta-join predicate: argument span <-> eventuality raw-token
    overlap (relation_extractor.py:473-520, the raw_sent_mapping branch —
    our records always carry ``raw_indices``).

    Simpson = |A ∩ E| / min(|A|, |E|);  Jaccard = |A ∩ E| / |A ∪ E|."""
    a = set(arg_indices)
    b = set(eventuality["raw_indices"])
    if not a or not b:
        return False
    inter = len(a & b)
    denom = min(len(a), len(b)) if method == "Simpson" else len(a | b)
    return inter / denom >= threshold


def match_argument_eventuality_by_dependencies(sent_parsed, arg_indices,
                                               eventuality,
                                               conn_indices) -> bool:
    """J3's third matcher (similarity='discourse'): the eventuality matches
    the argument iff some dependency edge links a connective token to a
    token inside BOTH the argument span and the eventuality's raw span
    (relation_extractor.py:521-539, the raw_sent_mapping branch)."""
    conn = set(conn_indices)
    a = set(arg_indices)
    e = set(eventuality["raw_indices"])
    for governor, _, dependent in sent_parsed["dependencies"]:
        if dependent in conn and governor in a and governor in e:
            return True
        if governor in conn and dependent in a and dependent in e:
            return True
    return False


# PDTB syntactic category per explicit connective (public PDTB data;
# the reference ships it as discourse/feats/conn_category.txt)
CONNECTIVE_CATEGORIES = {
    "accordingly": "adverbial",
    "additionally": "adverbial",
    "afterward": "adverbial",
    "also": "adverbial",
    "alternatively": "adverbial",
    "as a result": "adverbial",
    "as an alternative": "adverbial",
    "as well": "adverbial",
    "besides": "adverbial",
    "by comparison": "adverbial",
    "by contrast": "adverbial",
    "consequently": "adverbial",
    "conversely": "adverbial",
    "earlier": "adverbial",
    "either or": "adverbial",
    "except": "adverbial",
    "finally": "adverbial",
    "for example": "adverbial",
    "for instance": "adverbial",
    "further": "adverbial",
    "furthermore": "adverbial",
    "hence": "adverbial",
    "in addition": "adverbial",
    "in contrast": "adverbial",
    "in fact": "adverbial",
    "in other words": "adverbial",
    "in particular": "adverbial",
    "in short": "adverbial",
    "in sum": "adverbial",
    "in the end": "adverbial",
    "in turn": "adverbial",
    "indeed": "adverbial",
    "instead": "adverbial",
    "later": "adverbial",
    "likewise": "adverbial",
    "meantime": "adverbial",
    "meanwhile": "adverbial",
    "moreover": "adverbial",
    "nevertheless": "adverbial",
    "next": "adverbial",
    "nonetheless": "adverbial",
    "on the contrary": "adverbial",
    "on the other hand": "adverbial",
    "otherwise": "adverbial",
    "overall": "adverbial",
    "previously": "adverbial",
    "rather": "adverbial",
    "regardless": "adverbial",
    "separately": "adverbial",
    "similarly": "adverbial",
    "simultaneously": "adverbial",
    "specifically": "adverbial",
    "still": "adverbial",
    "thereafter": "adverbial",
    "thereby": "adverbial",
    "therefore": "adverbial",
    "thus": "adverbial",
    "ultimately": "adverbial",
    "whereas": "adverbial",
    "by then": "adverbial",
    "and": "coordinator",
    "but": "coordinator",
    "else": "coordinator",
    "if then": "coordinator",
    "neither nor": "coordinator",
    "nor": "coordinator",
    "on the one hand on the other hand": "coordinator",
    "or": "coordinator",
    "plus": "coordinator",
    "then": "coordinator",
    "yet": "coordinator",
    "after": "subordinator",
    "although": "subordinator",
    "as": "subordinator",
    "as if": "subordinator",
    "as long as": "subordinator",
    "as soon as": "subordinator",
    "as though": "subordinator",
    "because": "subordinator",
    "before": "subordinator",
    "before and after": "subordinator",
    "for": "subordinator",
    "however": "subordinator",
    "if": "subordinator",
    "if and when": "subordinator",
    "insofar as": "subordinator",
    "lest": "subordinator",
    "much as": "subordinator",
    "now that": "subordinator",
    "once": "subordinator",
    "since": "subordinator",
    "so": "subordinator",
    "so that": "subordinator",
    "though": "subordinator",
    "till": "subordinator",
    "unless": "subordinator",
    "until": "subordinator",
    "when": "subordinator",
    "when and if": "subordinator",
    "while": "subordinator",
}


# D4 SSArgumentExtractor constituent-argument feature families
# (discourse_parser.py:1182-1266); the per-candidate ss_arg classifier is
# pickled (absent in-sandbox)
SS_ARG_FEATURE_FAMILIES = (
    ("conn", "feat"), ("conn_lower", "feat"), ("nt_ctx", "feat"),
    ("conn_nt_path", "feat"), ("conn_nt_path_left_number", "feat"),
    ("conn_category", "feat"), ("left_number", "raw"),
    ("right_number", "raw"), ("conn_nt_position", "feat"),
)


def constituent_candidates(indices, syntax_tree):
    """Argument-candidate constituents for one connective: the connective
    node's non-connective children (multi-token connectives only) plus the
    siblings of every ancestor up to the root — mirrors
    SSArgumentExtractor._get_constituents (discourse_parser.py:1110-1144).
    Returns [{"node", "indices"}] with global token indices."""
    out = []
    if syntax_tree.tree is None:
        return out
    nodes = []
    if len(indices) == 1:
        conn_node = syntax_tree.get_leaf_node_by_token_index(indices[0]).up
    else:
        conn_node = syntax_tree.get_common_ancestor_by_token_indices(indices)
        # leaf identity within one tree <=> token index, so the cached
        # index tuples replace the id()-set walk
        conn_leaves = set(indices)
        for child in conn_node.get_children():
            if not conn_leaves.intersection(child.leaf_indices()):
                nodes.append(child)
    curr = conn_node
    while not curr.is_root():
        nodes.extend(syntax_tree.get_siblings(curr))
        curr = curr.up
    for node in nodes:
        out.append({
            "node": node,
            "indices": list(node.leaf_indices()),
        })
    return out


def ss_argument_feature_strings(doc_parsed, sent_idx, conn_indices,
                                syntax_tree,
                                conn_category_mapping=CONNECTIVE_CATEGORIES):
    """Per-constituent raw values for the 9 D4 families
    (discourse_parser.py:1182-1266): one dict per candidate constituent,
    sorted by first token, each carrying its token "indices"."""
    sp = doc_parsed[sent_idx]
    conn = " ".join(sp["tokens"][i] for i in conn_indices)
    conn_lower = conn.lower()
    conn_category = conn_category_mapping[conn_lower]
    try:
        conn_node = syntax_tree.get_self_category_node_by_token_indices(
            conn_indices)
    except Exception:
        return []
    if conn_node is None:
        return []

    left_number = right_number = 0
    if conn_node.up is not None:
        children = conn_node.up.get_children()
        for ci, child in enumerate(children):
            if child is conn_node:
                left_number, right_number = ci, len(children) - 1 - ci
                break

    cands = constituent_candidates({"indices": conn_indices}["indices"],
                                   syntax_tree)
    cands.sort(key=lambda x: x["indices"][0])
    rows = []
    for cand in cands:
        node = cand["node"]
        parent, left, right = node.up, None, None
        if parent is not None:
            children = parent.get_children()
            for ci, child in enumerate(children):
                if child is node:
                    if ci > 0:
                        left = children[ci - 1]
                    if ci < len(children) - 1:
                        right = children[ci + 1]
                    break
        nt_ctx = "-".join([
            node.name,
            parent.name if parent is not None else "NULL",
            left.name if left is not None else "NULL",
            right.name if right is not None else "NULL",
        ])
        conn_nt_path = syntax_tree.get_node_to_node_path(conn_node, node)
        rows.append({
            "indices": cand["indices"],
            "conn": conn,
            "conn_lower": conn_lower,
            "nt_ctx": nt_ctx,
            "conn_nt_path": conn_nt_path,
            "conn_nt_path_left_number":
                conn_nt_path + (":>1" if left_number > 1 else ":<=1"),
            "conn_category": conn_category,
            "left_number": left_number,
            "right_number": right_number,
            "conn_nt_position": syntax_tree.get_relative_position(conn_node, node),
        })
    return rows


# D5 PSArgumentExtractor feature families (discourse_parser.py:1448-1705):
# arg1 candidates = clauses of the PREVIOUS sentence, arg2 candidates =
# clauses of the connective's sentence split at the connective; the two
# pickled clause classifiers are absent in-sandbox
PS_ARG1_FEATURE_FAMILIES = (
    ("verb_lemma", "list"), ("clause_first", "feat"), ("clause_last", "feat"),
    ("prev_clause_first", "feat"), ("conn_lower", "feat"),
    ("conn_category", "feat"),
)
PS_ARG2_FEATURE_FAMILIES = (
    ("clause_production_rule", "list"), ("clause_first", "feat"),
    ("clause_first_prev_last_parse_path", "feat"), ("next", "feat"),
    ("conn_to_root_path", "feat"), ("conn", "feat"), ("prev", "feat"),
    ("clause_last_next", "feat"), ("conn_lower", "feat"),
    ("conn_conn_ctx", "feat"), ("compressed_cparent_to_root_path", "feat"),
    ("cpos", "feat"), ("cparent_to_root_path_node_name", "list"),
    ("conn_category", "feat"),
)

_VERB_POS = frozenset(("VB", "VBD", "VBG", "VBN", "VBP", "VBZ"))


def _adjacent_index(doc_parsed, sent_idx, idx, step, skip_tokens):
    """(sent_idx, idx) of the adjacent non-skip token, or (-1, -1) —
    mirrors utils.get_prev/next_token_index with skip_tokens."""
    s, i = sent_idx, idx
    for _ in range(_MAX_ATTEMPT):
        if step < 0:
            if i - 1 >= 0:
                i -= 1
            elif s - 1 >= 0:
                s -= 1
                i = len(doc_parsed[s]["tokens"]) - 1
            else:
                return -1, -1
        else:
            if i + 1 < len(doc_parsed[s]["tokens"]):
                i += 1
            elif s + 1 < len(doc_parsed):
                s += 1
                i = 0
            else:
                return -1, -1
        if doc_parsed[s]["tokens"][i] not in skip_tokens:
            return s, i
    return -1, -1


def _clause_prev_string(doc_parsed, home_sent, clause_start, fallback_ok):
    """The reference's clause-left-context string: the nearest non-separator
    token if adjacent, else the separator run between; sentinel rules
    mirrored from discourse_parser.py:1476-1496 (arg1) / :1576-1596 (arg2),
    which differ only in the out-of-sentence fallback condition."""
    from .clauses import CLAUSE_SEPARATOR_SET

    sp = doc_parsed[home_sent]
    if clause_start == 0:
        return "NONE"
    ps, pi = _adjacent_index(doc_parsed, home_sent, clause_start, -1,
                             CLAUSE_SEPARATOR_SET)
    if ps == home_sent:
        if pi + 1 == clause_start:
            return sp["tokens"][pi]
        return " ".join(sp["tokens"][i] for i in range(pi + 1, clause_start))
    if fallback_ok(ps):
        return " ".join(sp["tokens"][i] for i in range(0, clause_start))
    return "NONE"


def ps_argument1_feature_strings(doc_parsed, sent_idx, conn_indices,
                                 prev_tree,
                                 conn_category_mapping=CONNECTIVE_CATEGORIES):
    """Per-clause raw values for the 6 D5-arg1 families: candidates are the
    clauses of the PREVIOUS sentence (discourse_parser.py:1448-1515).
    Returns [] for a document-initial connective (no previous sentence) —
    the reference only ever calls this with sent_idx > 0."""
    if sent_idx <= 0:
        return []
    sp = doc_parsed[sent_idx - 1]
    clauses = get_clauses(sp["tokens"], prev_tree, None)
    if not clauses:
        return []
    conn = " ".join(doc_parsed[sent_idx]["tokens"][i] for i in conn_indices)
    conn_lower = conn.lower()
    conn_category = conn_category_mapping[conn_lower]
    rows = []
    for clause in clauses:
        clause = list(clause)
        clause_first = sp["tokens"][clause[0]]
        clause_last = sp["tokens"][clause[-1]]
        prev = _clause_prev_string(doc_parsed, sent_idx - 1, clause[0],
                                   lambda ps: ps + 1 == sent_idx - 1)
        verb_lemmas = [sp["lemmas"][i] for i in clause
                       if sp["pos_tags"][i] in _VERB_POS]
        rows.append({
            "indices": clause,
            "verb_lemma": verb_lemmas,
            "clause_first": clause_first,
            "clause_last": clause_last,
            "prev_clause_first": prev + "|" + clause_first,
            "conn_lower": conn_lower,
            "conn_category": conn_category,
        })
    return rows


def ps_argument2_feature_strings(doc_parsed, sent_idx, conn_indices, tree,
                                 conn_category_mapping=CONNECTIVE_CATEGORIES):
    """Per-clause raw values for the 14 D5-arg2 families: candidates are the
    connective sentence's clauses split at the connective
    (discourse_parser.py:1517-1705)."""
    from .clauses import CLAUSE_SEPARATOR_SET

    sp = doc_parsed[sent_idx]
    clauses = get_clauses(sp["tokens"], tree, set(conn_indices))
    if not clauses:
        return []
    conn = " ".join(sp["tokens"][i] for i in conn_indices)
    conn_lower = conn.lower()
    conn_category = conn_category_mapping[conn_lower]
    cpos = "_".join(sp["pos_tags"][i] for i in conn_indices)
    try:
        conn_node = tree.get_self_category_node_by_token_indices(conn_indices)
    except Exception:
        return []
    if conn_node is None:
        return []
    parent = conn_node.up
    left = right = None
    if parent is not None:
        children = parent.get_children()
        for ci, child in enumerate(children):
            if child is conn_node:
                if ci > 0:
                    left = children[ci - 1]
                if ci < len(children) - 1:
                    right = children[ci + 1]
    conn_ctx = "-".join([
        conn_node.name,
        parent.name if parent is not None else "NULL",
        left.name if left is not None else "NULL",
        right.name if right is not None else "NULL",
    ])

    try:
        conn_paths, cparent_paths = [], []
        for i in conn_indices:
            leaf = tree.get_leaf_node_by_token_index(i)
            conn_paths.append(tree.get_node_path_to_root(leaf))
            cparent_paths.append(tree.get_node_path_to_root(leaf.up))
        node_names = [n for p in cparent_paths for n in p.split("-->")]
        conn_to_root_path = "&".join(conn_paths)
        compressed = "&".join(_compressed_path(p) for p in cparent_paths)
    except Exception:
        node_names = ["NONE_TREE"]
        conn_to_root_path = "NONE_TREE"
        compressed = "NONE_TREE"

    rows = []
    for clause_idx, clause in enumerate(clauses):
        clause = list(clause)
        clause_first = sp["tokens"][clause[0]]
        clause_last = sp["tokens"][clause[-1]]
        prev = _clause_prev_string(doc_parsed, sent_idx, clause[0],
                                   lambda ps: clause[0] - 1 >= 0)
        # next context (mirror of prev, discourse_parser.py:1597-1617)
        if clause[-1] == len(sp["tokens"]) - 1:
            nxt = "NONE"
        else:
            ns, ni = _adjacent_index(doc_parsed, sent_idx, clause[-1], +1,
                                     CLAUSE_SEPARATOR_SET)
            if ns == sent_idx:
                if ni - 1 == clause[-1]:
                    nxt = sp["tokens"][ni]
                else:
                    nxt = " ".join(sp["tokens"][i]
                                   for i in range(clause[-1] + 1, ni))
            elif clause[-1] + 1 < len(sp["tokens"]):
                nxt = " ".join(sp["tokens"][i]
                               for i in range(clause[-1] + 1, len(sp["tokens"])))
            else:
                nxt = "NONE"

        try:
            clause_first_node = tree.get_leaf_node_by_token_index(clause[0]).up
            prev_last_node = (
                tree.get_leaf_node_by_token_index(
                    list(clauses[clause_idx - 1])[-1]).up
                if clause_idx > 0 else None)
        except Exception:
            clause_first_node = prev_last_node = None

        rules = []
        if tree.tree is not None:
            for node in tree.get_subtree_by_token_indices(clause).tree.traverse():
                if not node.is_leaf():
                    rules.append(node.name + "-->" + " ".join(
                        c.name for c in node.get_children()))

        try:
            if prev_last_node is not None:
                cf_path = tree.get_node_to_node_path(clause_first_node,
                                                     prev_last_node)
            else:
                cf_path = "NONE"
        except Exception:
            cf_path = "NONE_TREE"

        rows.append({
            "indices": clause,
            "clause_production_rule": rules,
            "clause_first": clause_first,
            "clause_first_prev_last_parse_path": cf_path,
            "next": nxt,
            "conn_to_root_path": conn_to_root_path,
            "conn": conn,
            "prev": prev,
            "clause_last_next": clause_last + "|" + nxt,
            "conn_lower": conn_lower,
            "conn_conn_ctx": conn + "|" + conn_ctx,
            "compressed_cparent_to_root_path": compressed,
            "cpos": cpos,
            "cparent_to_root_path_node_name": node_names,
            "conn_category": conn_category,
        })
    return rows


def parallel_connective_args(tokens, indices):
    """D4's PARALLEL path for discontinuous connectives (either..or):
    arg1 = the span between the two connective parts, arg2 = the span after
    the second part, both punctuation-stripped — mirrors
    SSArgumentExtractor._get_parallel_clauses (discourse_parser.py:1110-1137)
    EXACTLY, including its quirk of seeding arg1's start from the list
    POSITION of the gap (not the token index); for the dominant
    sentence-initial either..or case the two coincide."""
    from .clauses import strip_punctuations

    conn_idx1 = conn_idx2 = indices[-1]
    for k in range(len(indices) - 1):
        if indices[k] + 1 < indices[k + 1]:
            conn_idx1 = k
            break
    arg1 = strip_punctuations(tokens, list(range(conn_idx1 + 1, conn_idx2)))
    arg2 = strip_punctuations(tokens, list(range(conn_idx2 + 1, len(tokens))))
    out = []
    if arg1:
        out.append(arg1)
    if arg2:
        out.append(arg2)
    return out


def doc_connective_candidates(doc_parsed):
    """Document-wide connective candidates, each tagged with its sent_idx,
    in the reference's order: sentence order, then per-sentence sort by
    connective string (discourse_parser.py:447-467)."""
    out = []
    for sent_idx, sp in enumerate(doc_parsed):
        cands = sorted(extract_connective_candidates(sp["tokens"]),
                       key=lambda x: x["connective"])
        for c in cands:
            out.append({"connective": c["connective"],
                        "indices": c["indices"], "sent_idx": sent_idx})
    return out


def classify_connectives(doc_parsed, syntax_trees, models=None):
    """D2: candidate scan + the reference's LR connective filter
    (ConnectiveExtractor.extract, discourse_parser.py:447-464)."""
    if models is None:
        from .discourse_models import load_discourse_models
        models = load_discourse_models()
    kept = []
    for c in doc_connective_candidates(doc_parsed):
        strings = connective_feature_strings(
            doc_parsed, c["sent_idx"], c["indices"],
            syntax_trees[c["sent_idx"]])
        if models.is_connective(strings):
            kept.append(c)
    return kept


def _merge_ss_argument(tokens, indices):
    """SSArgumentExtractor's argument merge (discourse_parser.py:1077-1113):
    single-index args pass through unstripped; multi-index args bridge
    gaps that consist entirely of punctuation, then strip boundary
    punctuation."""
    if len(indices) == 1:
        return list(indices)
    merged = []
    for k in range(len(indices) - 1):
        merged.append(indices[k])
        gap = range(indices[k] + 1, indices[k + 1])
        if all(tokens[t] in PUNCTUATION_SET for t in gap):
            merged.extend(gap)
    merged.append(indices[-1])
    return list(strip_punctuations(tokens, merged))


def extract_ss_arguments(doc_parsed, connectives, syntax_trees, models):
    """D4: SSArgumentExtractor.extract (discourse_parser.py:979-1032) —
    parallel (discontinuous) connectives take the between/after spans;
    contiguous connectives run the constituent candidate scan + the ss_arg
    LR (label 1 -> Arg1 constituent, 2 -> Arg2), then the punctuation
    bridge merge.  Mutates ``connectives`` in place (adds arg1/arg2)."""
    for c in connectives:
        sent_idx, indices = c["sent_idx"], c["indices"]
        sp = doc_parsed[sent_idx]
        discontinuous = any(indices[k] + 1 < indices[k + 1]
                            for k in range(len(indices) - 1))
        if discontinuous:
            clauses = parallel_connective_args(sp["tokens"], indices)
            if len(clauses) == 2:
                c["arg1"] = {"sent_idx": sent_idx, "indices": list(clauses[0])}
                c["arg2"] = {"sent_idx": sent_idx, "indices": list(clauses[1])}
            continue
        rows = ss_argument_feature_strings(
            doc_parsed, sent_idx, indices, syntax_trees[sent_idx],
            conn_category_mapping=models.conn_category)
        arg1_idx, arg2_idx = [], []
        for row in rows:
            label = models.ss_label(row)
            if label == 1:
                arg1_idx.extend(row["indices"])
            elif label == 2:
                arg2_idx.extend(row["indices"])
        arg1_idx.sort()
        arg2_idx.sort()
        if not arg1_idx or not arg2_idx:
            continue
        c["arg1"] = {"sent_idx": sent_idx,
                     "indices": _merge_ss_argument(sp["tokens"], arg1_idx)}
        c["arg2"] = {"sent_idx": sent_idx,
                     "indices": _merge_ss_argument(sp["tokens"], arg2_idx)}
    return connectives


def _remove_clause_from_implicit(tokens, implicit, clause_indices):
    """PSArgumentExtractor's label==0 removal (discourse_parser.py:1383-1397):
    split the implicit span at the removed clause and re-strip both parts."""
    import bisect

    parts = [[], []]
    p_idx = 0
    n = len(clause_indices)
    for t_idx in implicit:
        a_idx = bisect.bisect_left(clause_indices, t_idx)
        if a_idx < n and clause_indices[a_idx] == t_idx:
            p_idx = 1
        else:
            parts[p_idx].append(t_idx)
    return (list(strip_punctuations(tokens, parts[0]))
            + list(strip_punctuations(tokens, parts[1])))


def extract_ps_arguments(doc_parsed, connectives, syntax_trees, models):
    """D5: PSArgumentExtractor.extract (discourse_parser.py:1351-1446) —
    Arg1 = previous sentence minus its ps_arg1-rejected clauses, Arg2 =
    the connective's sentence (minus the connective) minus its
    ps_arg2-rejected clauses; keeps only connectives that obtained both."""
    ps = [c for c in connectives if c["sent_idx"] > 0]
    for c in ps:
        sent_idx, conn_indices = c["sent_idx"], c["indices"]

        # ---- Arg1 over the previous sentence's clauses ----
        rows = ps_argument1_feature_strings(
            doc_parsed, sent_idx, conn_indices, syntax_trees[sent_idx - 1],
            conn_category_mapping=models.conn_category)
        if rows:
            sp1 = doc_parsed[sent_idx - 1]
            labeled = [(list(r["indices"]), models.ps1_label(r)) for r in rows]
            implicit = list(strip_punctuations(
                sp1["tokens"], list(range(len(sp1["tokens"])))))
            for clause_indices, label in labeled:
                if label == 0:
                    implicit = _remove_clause_from_implicit(
                        sp1["tokens"], implicit, clause_indices)
            c["arg1"] = {"sent_idx": sent_idx - 1,
                         "indices": implicit if implicit else labeled[-1][0]}

        # ---- Arg2 over the connective sentence's clauses ----
        rows = ps_argument2_feature_strings(
            doc_parsed, sent_idx, conn_indices, syntax_trees[sent_idx],
            conn_category_mapping=models.conn_category)
        if rows:
            sp2 = doc_parsed[sent_idx]
            labeled = [(list(r["indices"]), models.ps2_label(r)) for r in rows]
            sent_len = len(sp2["tokens"])
            implicit = (list(strip_punctuations(
                sp2["tokens"], list(range(0, conn_indices[0]))))
                + list(strip_punctuations(
                    sp2["tokens"],
                    list(range(conn_indices[-1] + 1, sent_len)))))
            for clause_indices, label in labeled:
                if label == 0:
                    implicit = _remove_clause_from_implicit(
                        sp2["tokens"], implicit, clause_indices)
            c["arg2"] = {"sent_idx": sent_idx,
                         "indices": implicit if implicit else labeled[0][0]}

    return [c for c in ps if "arg1" in c and "arg2" in c]


def classify_senses(doc_parsed, connectives, syntax_trees, models):
    """D6: ExplicitSenseClassifier.classify (discourse_parser.py:1820-1828)
    — the 14-way explicit sense via the reference's softmax LR."""
    for c in connectives:
        strings = explicit_sense_feature_strings(
            doc_parsed, c["sent_idx"], c["indices"],
            syntax_trees[c["sent_idx"]])
        c["sense"] = models.sense(strings)
    return connectives


def _sentence_connective_rows(filtered, sentences, para_eventualities,
                              syntax_trees, i, models, method, threshold,
                              cands_raw):
    """All relation rows whose connective lives in sentence ``i`` —
    the D2→D3→D4/D5→D6→matching chain restricted to that sentence's
    non-empty candidate list ``cands_raw`` (sorted here to canonicalize
    order).  Per-connective independence of every stage makes this
    exactly the per-``i`` slice of the original doc-wide pass."""
    connectives = [
        {"connective": c["connective"], "indices": list(c["indices"]),
         "sent_idx": i}
        for c in sorted(cands_raw, key=lambda x: x["connective"])
        if models.is_connective(connective_feature_strings(
            filtered, i, c["indices"], syntax_trees[i]))
    ]
    ss_conns, ps_conns = [], []
    for c in connectives:
        strings = argument_position_feature_strings(
            filtered, i, c["indices"], syntax_trees[i])
        (ps_conns if models.is_ps(strings) else ss_conns).append(c)
    extract_ss_arguments(filtered, ss_conns, syntax_trees, models)
    ps_conns = extract_ps_arguments(filtered, ps_conns, syntax_trees, models)
    connectives = classify_senses(filtered, ss_conns + ps_conns,
                                  syntax_trees, models)
    connectives.sort(key=lambda c: c["indices"][0] if c["indices"] else -1)

    def _match(arg, e, conn_indices):
        if method.lower() == "discourse":
            return match_argument_eventuality_by_dependencies(
                sentences[arg["sent_idx"]], arg["indices"], e, conn_indices)
        return match_argument_eventuality(arg["indices"], e, method,
                                          threshold)

    rows = []
    for c in connectives:
        arg1, arg2, sense = c.get("arg1"), c.get("arg2"), c.get("sense")
        if not (c.get("indices") and arg1 and arg2
                and sense and sense != "None"):
            continue
        e1s = [e for e in para_eventualities[arg1["sent_idx"]]
               if _match(arg1, e, c["indices"])]
        e2s = [e for e in para_eventualities[arg2["sent_idx"]]
               if _match(arg2, e, c["indices"])]
        if not e1s or not e2s:
            continue
        cnt = 1.0 / (len(e1s) * len(e2s))
        for e1 in e1s:
            for e2 in e2s:
                rows.append((e1["eid"], e2["eid"], sense, cnt))
    return rows


def _connective_candidates(tokens):
    """``extract_connective_candidates`` memoized by token tuple: keys are
    single sentences (high hit rate under Zipf even across conversations)
    and the value build is the scan itself, so there is no lose regime.
    Consumers never mutate the candidate dicts."""
    key = tuple(tokens)
    cands = _memo.CANDIDATES.get(key)
    if cands is None:
        cands = extract_connective_candidates(tokens)
        _memo.CANDIDATES.put(key, cands)
    return cands


def extract_paragraph_relations_discourse(sentences, para_eventualities,
                                          syntax_trees=None,
                                          method: str = "Simpson",
                                          threshold: float = 0.8,
                                          window=None):
    """The full DiscourseRelationExtractor pipeline
    (relation_extractor.py:361-466) over one paragraph/conversation:

    1. unconditional Co_Occurrence over intra-sentence ordered pairs;
    2. replace eventuality-less sentences with EMPTY_SENT_PARSED while
       keeping their REAL syntax trees (the reference's shared
       syntax_tree_cache is populated by eventuality extraction over the
       unfiltered document, aser_extractor.py:819 + relation_extractor
       cache lookups by sent_idx);
    3. D2 connective filter -> D3 SS/PS split -> D4/D5 argument spans ->
       D6 senses, all with the reference's frozen LR weights;
    4. Simpson/Jaccard-match each argument span to that sentence's
       eventualities; emit (hid, tid, sense, 1/(|E1|*|E2|)) instances
       (downstream aggregation sums duplicates exactly as the reference's
       Relation.update accumulation does)."""
    from .discourse_models import load_discourse_models

    models = load_discourse_models()
    if syntax_trees is None:
        syntax_trees = [None] * len(sentences)
    # window bounds EMISSION by anchor sentence (Co_Occurrence + the
    # connective pass are both anchored at one sentence i) while the full
    # lists still provide the cross-sentence context the featurizers read
    # (prev sentence, 10-raw-token flanks, 1-token neighbor) — the
    # giant-conversation split's boundary-carry contract.
    start, stop = window if window else (0, len(sentences))
    rows = []
    filtered = []
    for j, (sent, evs) in enumerate(zip(sentences, para_eventualities)):
        if evs:
            filtered.append(sent)
            if start <= j < stop:
                for head in evs:
                    for tail in evs:
                        if head["position"] < tail["position"]:
                            rows.append((head["eid"], tail["eid"],
                                         "Co_Occurrence", 1.0))
        else:
            filtered.append(EMPTY_SENT_PARSED)

    for i in range(start, stop):
        sp = filtered[i]
        if not sp["tokens"]:
            continue
        cands_raw = _connective_candidates(sp["tokens"])
        if cands_raw:
            rows.extend(_sentence_connective_rows(
                filtered, sentences, para_eventualities, syntax_trees, i,
                models, method, threshold, cands_raw))
    return rows


# ---------------------------------------------------------------------------
# D2 feature generation (the 29 feature families of the reference's
# ConnectiveExtractor, discourse_parser.py:547-758) — fully deterministic
# given a constituency tree; only the LR weights that CONSUME these are
# absent in-sandbox.  `connective_feature_strings` emits the raw feature
# values; `connective_feature_vector` reproduces the reference's
# vocabulary-indexed sparse merge (Feature.get_feature_by_feat +
# merge_features, discourse_parser.py:63-98) given the per-family vocab
# dicts (loaded from a PDTB-style feats directory at deploy time).
# ---------------------------------------------------------------------------

_MAX_ATTEMPT = 10  # utils.py:48

# (family name, kind): 'feat' = single vocab lookup, 'list' = multi lookup,
# 'raw' = numeric passthrough of dimension 1 — in the reference's exact
# merge order (discourse_parser.py:686-752)
CONNECTIVE_FEATURE_FAMILIES = (
    ("cpos", "feat"), ("prev_conn", "feat"), ("prevpos", "feat"),
    ("prevpos_cpos", "feat"), ("conn_next", "feat"), ("nextpos", "feat"),
    ("cpos_nextpos", "feat"), ("cparent_to_root_path", "feat"),
    ("compressed_cparent_to_root_path", "feat"), ("self_category", "feat"),
    ("parent_category", "feat"), ("left_category", "feat"),
    ("right_category", "feat"), ("right_contains_VP", "raw"),
    ("conn_self_category", "feat"), ("conn_parent_category", "feat"),
    ("conn_left_category", "feat"), ("conn_right_category", "feat"),
    ("self_category_parent_category", "feat"),
    ("self_category_right_category", "feat"),
    ("self_category_left_category", "feat"),
    ("parent_category_left_category", "feat"),
    ("parent_category_right_category", "feat"),
    ("left_category_right_category", "feat"),
    ("conn_lower", "feat"), ("conn", "feat"),
    ("cparent_to_root_path_node_name", "list"),
    ("conn_right_ctx", "feat"), ("conn_parent_ctx", "feat"),
)


def _compressed_path(path: str) -> str:
    """Collapse consecutive duplicate labels (discourse_parser.py:392-405)."""
    parts = path.split("-->")
    out = []
    for i in range(len(parts) - 1):
        if parts[i] != parts[i + 1]:
            out.append(parts[i])
    if parts:
        if out:
            if parts[-1] != out[-1]:
                out.append(parts[-1])
        else:
            out.append(parts[-1])
    return "-->".join(out)


def _adjacent_token(doc_parsed, sent_idx, idx, step):
    """Previous (step=-1) / next (step=+1) token across sentence boundaries
    (utils.py:407-470); returns (token, pos) or ("NONE", "NONE")."""
    s, i = sent_idx, idx
    for _ in range(_MAX_ATTEMPT):
        if step < 0:
            if i - 1 >= 0:
                i -= 1
            elif s - 1 >= 0:
                s -= 1
                i = len(doc_parsed[s]["tokens"]) - 1
            else:
                return "NONE", "NONE"
        else:
            if i + 1 < len(doc_parsed[s]["tokens"]):
                i += 1
            elif s + 1 < len(doc_parsed):
                s += 1
                i = 0
            else:
                return "NONE", "NONE"
        return doc_parsed[s]["tokens"][i], doc_parsed[s]["pos_tags"][i]
    return "NONE", "NONE"


def connective_feature_strings(doc_parsed, sent_idx, indices, syntax_tree):
    """Raw values for all 29 feature families of one connective candidate —
    mirrors discourse_parser.py:547-758 exactly (incl. the NONE_TREE /
    NULL / 'None' sentinel conventions and the ROOT parent default)."""
    sp = doc_parsed[sent_idx]
    conn = " ".join(sp["tokens"][i] for i in indices)
    cpos = "_".join(sp["pos_tags"][i] for i in indices)
    prev, prevpos = _adjacent_token(doc_parsed, sent_idx, indices[0], -1)
    nxt, nextpos = _adjacent_token(doc_parsed, sent_idx, indices[-1], +1)

    try:
        paths = []
        for i in indices:
            leaf = syntax_tree.get_leaf_node_by_token_index(i)
            paths.append(syntax_tree.get_node_path_to_root(leaf.up))
        node_names = [n for p in paths for n in p.split("-->")]
        cpath = "&".join(paths)
        compressed = "&".join(_compressed_path(p) for p in paths)
    except Exception:
        node_names = ["NONE_TREE"]
        cpath = "NONE_TREE"
        compressed = "NONE_TREE"

    try:
        node = syntax_tree.get_self_category_node_by_token_indices(indices)
        self_cat = node.name
        parent = node.up
        left = right = None
        if parent is not None:
            parent_cat = parent.name
            children = parent.get_children()
            for ci, child in enumerate(children):
                if child is node:
                    if ci > 0:
                        left = children[ci - 1]
                    if ci < len(children) - 1:
                        right = children[ci + 1]
            left_cat = left.name if left is not None else "NONE"
            right_cat = right.name if right is not None else "NONE"
        else:
            parent_cat, left_cat, right_cat = "ROOT", "NONE", "NONE"

        conn_ctx = "-".join([
            node.name,
            parent.name if parent is not None else "NULL",
            left.name if left is not None else "NULL",
            right.name if right is not None else "NULL",
        ])
        if parent is not None:
            parent_ctx = "-".join(
                [parent.name, parent.up.name if parent.up is not None else "NULL"]
                + [c.name for c in parent.get_children()])
        else:
            parent_ctx = "None"
        left_ctx = ("-".join([left.name, parent.name]
                             + [c.name for c in left.get_children()])
                    if left is not None else "None")
        right_ctx = ("-".join([right.name, parent.name]
                              + [c.name for c in right.get_children()])
                     if right is not None else "None")

        right_vp = False
        if right is not None:
            if right.name in ("VP", "S"):
                right_vp = True
            else:
                right_vp = any(n.name in ("VP", "S")
                               for n in right.get_descendants())
    except Exception:
        self_cat = parent_cat = left_cat = right_cat = "NONE_TREE"
        conn_ctx = parent_ctx = left_ctx = right_ctx = "NONE_TREE"
        right_vp = False

    return {
        "cpos": cpos,
        "prev_conn": prev + "|" + conn,
        "prevpos": prevpos,
        "prevpos_cpos": prevpos + "|" + cpos,
        "conn_next": conn + "|" + nxt,
        "nextpos": nextpos,
        "cpos_nextpos": cpos + "|" + nextpos,
        "cparent_to_root_path": cpath,
        "compressed_cparent_to_root_path": compressed,
        "self_category": self_cat,
        "parent_category": parent_cat,
        "left_category": left_cat,
        "right_category": right_cat,
        "right_contains_VP": int(right_vp),
        "conn_self_category": conn + "|" + self_cat,
        "conn_parent_category": conn + "|" + parent_cat,
        "conn_left_category": conn + "|" + left_cat,
        "conn_right_category": conn + "|" + right_cat,
        "self_category_parent_category": self_cat + "|" + parent_cat,
        "self_category_right_category": self_cat + "|" + right_cat,
        "self_category_left_category": self_cat + "|" + left_cat,
        "parent_category_left_category": parent_cat + "|" + left_cat,
        "parent_category_right_category": parent_cat + "|" + right_cat,
        "left_category_right_category": left_cat + "|" + right_cat,
        "conn_lower": conn.lower(),
        "conn": conn,
        "cparent_to_root_path_node_name": node_names,
        "conn_right_ctx": conn + "|" + right_ctx,
        "conn_parent_ctx": conn + "|" + parent_ctx,
    }


def merge_feature_vector(strings: dict, vocab: dict, families) -> tuple:
    """(dimension, {global_index: value}) — the reference's sparse merge
    (Feature.get_feature_by_feat/_list + merge_features) over per-family
    vocab dicts {family: {string: local_index}}."""
    feat = {}
    offset = 0
    for family, kind in families:
        if kind == "raw":
            feat[offset] = strings[family]
            offset += 1
            continue
        v = vocab.get(family, {})
        if kind == "feat":
            idx = v.get(strings[family], -1)
            if idx != -1:
                feat[offset + idx] = 1
        else:
            for s in strings[family]:
                idx = v.get(s, -1)
                if idx != -1:
                    feat[offset + idx] = 1
        offset += len(v)
    return offset, feat


def connective_feature_vector(strings: dict, vocab: dict) -> tuple:
    return merge_feature_vector(strings, vocab, CONNECTIVE_FEATURE_FAMILIES)


# D3 ArgumentPositionClassifier feature families
# (discourse_parser.py:812-915) — SS-vs-PS featurizer; the LR model that
# consumes them is pickled (absent in-sandbox)
ARGPOS_FEATURE_FAMILIES = (
    ("conn", "feat"), ("conn_part", "feat"), ("cpos", "feat"),
    ("prev1", "feat"), ("prev1pos", "feat"), ("prev1_conn", "feat"),
    ("prev1pos_cpos", "feat"), ("prev2", "feat"), ("prev2pos", "feat"),
    ("prev2_conn", "feat"), ("prev2pos_cpos", "feat"),
    ("next1pos_cpos", "feat"), ("next2", "feat"),
    ("conn_to_root_path", "feat"),
)


def _adjacent2(doc_parsed, sent_idx, idx, step):
    """Two steps of prev/next with sentence-boundary crossing, returning
    ((tok1, pos1), (tok2, pos2)) with NONE sentinels — mirrors the nested
    get_prev/next_token_index chains (discourse_parser.py:836-880)."""
    s, i = sent_idx, idx
    out = []
    for _ in range(2):
        if step < 0:
            if i - 1 >= 0:
                i -= 1
            elif s - 1 >= 0:
                s -= 1
                i = len(doc_parsed[s]["tokens"]) - 1
            else:
                out.append(("NONE", "NONE"))
                break
        else:
            if i + 1 < len(doc_parsed[s]["tokens"]):
                i += 1
            elif s + 1 < len(doc_parsed):
                s += 1
                i = 0
            else:
                out.append(("NONE", "NONE"))
                break
        out.append((doc_parsed[s]["tokens"][i], doc_parsed[s]["pos_tags"][i]))
    while len(out) < 2:
        out.append(("NONE", "NONE"))
    return out[0], out[1]


def argument_position_feature_strings(doc_parsed, sent_idx, indices,
                                      syntax_tree):
    """Raw values for the 14 D3 families (discourse_parser.py:812-915):
    connective position bucket, two-token lexical context either side, and
    the leaf-to-root constituency paths."""
    sp = doc_parsed[sent_idx]
    sent_len = len(sp["tokens"])
    conn = " ".join(sp["tokens"][i] for i in indices)
    cpos = "_".join(sp["pos_tags"][i] for i in indices)
    conn_part = "middle"
    if indices[0] / sent_len <= 0.2:
        conn_part = "start"
    elif indices[0] / sent_len >= 0.8:
        conn_part = "end"
    (prev1, prev1pos), (prev2, prev2pos) = _adjacent2(
        doc_parsed, sent_idx, indices[0], -1)
    (next1, next1pos), (next2, next2pos) = _adjacent2(
        doc_parsed, sent_idx, indices[-1], +1)
    try:
        paths = []
        for i in indices:
            leaf = syntax_tree.get_leaf_node_by_token_index(i)
            paths.append(syntax_tree.get_node_path_to_root(leaf))
        conn_to_root_path = "&".join(paths)
    except Exception:
        conn_to_root_path = "NONE_TREE"
    return {
        "conn": conn, "conn_part": conn_part, "cpos": cpos,
        "prev1": prev1, "prev1pos": prev1pos,
        "prev1_conn": prev1 + "|" + conn,
        "prev1pos_cpos": prev1pos + "|" + cpos,
        "prev2": prev2, "prev2pos": prev2pos,
        "prev2_conn": prev2 + "|" + conn,
        "prev2pos_cpos": prev2pos + "|" + cpos,
        "next1pos_cpos": cpos + "|" + next1pos,
        "next2": next2,
        "conn_to_root_path": conn_to_root_path,
    }


# D6 ExplicitSenseClassifier feature families
# (discourse_parser.py:1830-1999) — 23 families over connective + Pitler
# categories + the as/when previous-connective quirks; consumed by the
# reference's frozen 14-sense softmax LR (discourse_models.sense)
EXPLICIT_FEATURE_FAMILIES = (
    ("conn", "feat"), ("cpos", "feat"), ("prev_conn", "feat"),
    ("conn_lower", "feat"), ("self_category", "feat"),
    ("parent_category", "feat"), ("left_category", "feat"),
    ("right_category", "feat"), ("conn_lower_self_category", "feat"),
    ("conn_lower_parent_category", "feat"),
    ("conn_lower_left_category", "feat"),
    ("conn_lower_right_category", "feat"),
    ("self_category_parent_category", "feat"),
    ("self_category_right_category", "feat"),
    ("self_category_left_category", "feat"),
    ("parent_category_left_category", "feat"),
    ("parent_category_right_category", "feat"),
    ("left_category_right_category", "feat"),
    ("conn_parent_ctx", "feat"), ("as_prev_conn", "feat"),
    ("as_prev_cpos", "feat"), ("when_prev_conn", "feat"),
    ("when_prev_cpos", "feat"),
)


def _pitler_categories(indices, syntax_tree):
    """(self, parent, left, right, parent_ctx) with the reference's
    sentinel conventions; shared by the D2/D6 feature generators."""
    node = syntax_tree.get_self_category_node_by_token_indices(indices)
    self_cat = node.name
    parent = node.up
    left = right = None
    if parent is not None:
        parent_cat = parent.name
        children = parent.get_children()
        for ci, child in enumerate(children):
            if child is node:
                if ci > 0:
                    left = children[ci - 1]
                if ci < len(children) - 1:
                    right = children[ci + 1]
        left_cat = left.name if left is not None else "NONE"
        right_cat = right.name if right is not None else "NONE"
        parent_ctx = "-".join(
            [parent.name, parent.up.name if parent.up is not None else "NULL"]
            + [c.name for c in parent.get_children()])
    else:
        parent_cat, left_cat, right_cat = "ROOT", "NONE", "NONE"
        parent_ctx = "None"
    return self_cat, parent_cat, left_cat, right_cat, parent_ctx


def _prev_conn_quirk(sp, indices, word):
    """The reference's as/when previous-connective features
    (discourse_parser.py:1898-1928): connective string of the LAST
    candidate before the connective, pos string of the FIRST candidate's
    indices — quirk preserved."""
    conn = " ".join(sp["tokens"][i] for i in indices)
    if conn != word:
        return f"NOT_{word}", f"NOT_{word}"
    prev_tokens = [sp["tokens"][i] for i in range(0, indices[0])]
    cands = sorted(extract_connective_candidates(prev_tokens),
                   key=lambda x: x["indices"][-1])
    if not cands:
        return "NULL", "NULL"
    prev_conn = cands[-1]["connective"]
    prev_cpos = " ".join(sp["pos_tags"][i] for i in cands[0]["indices"])
    return prev_conn, prev_cpos


def explicit_sense_feature_strings(doc_parsed, sent_idx, indices,
                                   syntax_tree):
    """Raw values for the 23 D6 families (discourse_parser.py:1830-1999)."""
    sp = doc_parsed[sent_idx]
    conn = " ".join(sp["tokens"][i] for i in indices)
    conn_lower = conn.lower()
    cpos = "_".join(sp["pos_tags"][i] for i in indices)
    prev, _ = _adjacent_token(doc_parsed, sent_idx, indices[0], -1)
    try:
        self_cat, parent_cat, left_cat, right_cat, parent_ctx = \
            _pitler_categories(indices, syntax_tree)
    except Exception:
        self_cat = parent_cat = left_cat = right_cat = "NONE_TREE"
        parent_ctx = "NONE_TREE"
    as_prev_conn, as_prev_cpos = _prev_conn_quirk(sp, indices, "as")
    when_prev_conn, when_prev_cpos = _prev_conn_quirk(sp, indices, "when")
    return {
        "conn": conn, "cpos": cpos, "prev_conn": prev + "|" + conn,
        "conn_lower": conn_lower,
        "self_category": self_cat, "parent_category": parent_cat,
        "left_category": left_cat, "right_category": right_cat,
        "conn_lower_self_category": conn_lower + "|" + self_cat,
        "conn_lower_parent_category": conn_lower + "|" + parent_cat,
        "conn_lower_left_category": conn_lower + "|" + left_cat,
        "conn_lower_right_category": conn_lower + "|" + right_cat,
        "self_category_parent_category": self_cat + "|" + parent_cat,
        "self_category_right_category": self_cat + "|" + right_cat,
        "self_category_left_category": self_cat + "|" + left_cat,
        "parent_category_left_category": parent_cat + "|" + left_cat,
        "parent_category_right_category": parent_cat + "|" + right_cat,
        "left_category_right_category": left_cat + "|" + right_cat,
        "conn_parent_ctx": conn + "|" + parent_ctx,
        "as_prev_conn": as_prev_conn, "as_prev_cpos": as_prev_cpos,
        "when_prev_conn": when_prev_conn, "when_prev_cpos": when_prev_cpos,
    }


def _clause_slice(clause, tokens, lemmas, pos_tags, deps):
    """Remap one clause's parse slice to clause-local 0..k indices
    (eventuality_extractor.py:620-633)."""
    mapping = {orig: local for local, orig in enumerate(clause)}
    idx_set = set(clause)
    c_deps = [(mapping[g], lab, mapping[d]) for g, lab, d in deps
              if g in idx_set and d in idx_set]
    return (
        [tokens[i] for i in clause],
        [lemmas[i] for i in clause],
        [pos_tags[i] for i in clause],
        sorted(c_deps, key=lambda e: (e[0], e[2])),
    )


def _clause_mentions(mentions, clause):
    """Project sentence-level mention spans into clause-local coordinates
    (eventuality_extractor.py:634-648 bisect semantics)."""
    import bisect

    out = []
    n = len(clause)
    for m in mentions or ():
        s = bisect.bisect_left(clause, m["start"])
        if not (s < n and clause[s] == m["start"]):
            continue
        e = bisect.bisect_left(clause, m["end"] - 1)
        if not (e < n and clause[e] == m["end"] - 1):
            continue
        out.append(dict(m, start=s, end=e + 1))
    return out


def _sentence_clause_eventualities(tokens, lemmas, pos_tags, dependencies,
                                   syntax_tree, sep, use_lemma=True,
                                   ners=None, mentions=None):
    """One sentence's discourse-path eventualities given its separator
    index set ``sep`` (classifier-accepted connective positions) — the
    per-clause re-extraction + dedup loop of
    eventuality_extractor.py:620-692, sorted by sentence position."""
    clauses = get_clauses(tokens, syntax_tree, sep)

    out = []
    seen = set()
    for clause in clauses:
        c_tokens, c_lemmas, c_tags, c_deps = _clause_slice(
            list(clause), tokens, lemmas, pos_tags, dependencies)
        c_ners = [ners[i] for i in clause] if ners else None
        # skip_words=None: the reference's v2.0 path builds its inner
        # SeedRuleEventualityExtractor WITHOUT the CLAUSE_WORDS skip set
        # (eventuality_extractor.py:599 passes no skip_words -> empty set;
        # only the v1.0 SeedRuleASERExtractor sets it, aser_extractor.py:768)
        evs = extract_sentence_eventualities(
            c_tokens, c_lemmas, c_tags, c_deps, use_lemma=use_lemma,
            skip_words=None,
            ners=c_ners, mentions=_clause_mentions(mentions, list(clause)))
        for e in evs:
            raw = tuple(clause[i] for i in e["raw_indices"])
            key = (e["eid"], raw)
            if key in seen:          # same eid + same raw mapping -> dup
                continue
            seen.add(key)
            e = dict(e, raw_indices=list(raw),
                     position=(sum(raw) / len(raw)) if raw else 0.0)
            out.append(e)
    out.sort(key=lambda e: e["position"])
    return out


def extract_document_eventualities_discourse(doc_parsed, syntax_trees,
                                             use_lemma=True):
    """Discourse-path eventualities for a whole parsed document: one
    classified connective pass over the document (the reference's
    DiscourseEventualityExtractor._extract_clauses,
    eventuality_extractor.py:694-718), then per-sentence clause
    re-extraction.  Returns one eventuality list per sentence."""
    from .discourse_models import load_discourse_models

    models = load_discourse_models()
    conns = classify_connectives(doc_parsed, syntax_trees, models)
    seps = [set() for _ in doc_parsed]
    for c in conns:
        seps[c["sent_idx"]].update(c["indices"])
    return [
        _sentence_clause_eventualities(
            sp["tokens"], sp["lemmas"], sp["pos_tags"], sp["dependencies"],
            tree, sep, use_lemma=use_lemma, ners=sp.get("ners"),
            mentions=sp.get("mentions"))
        for sp, tree, sep in zip(doc_parsed, syntax_trees, seps)
    ]


def sentence_connective_separators(tokens, pos_tags, syntax_tree,
                                   prev_ctx=None, next_ctx=None):
    """Classifier-accepted connective token positions for ONE sentence,
    as a sorted tuple (a cache-friendly key: distinct (prev, next)
    contexts usually yield the SAME separators, so downstream clause
    re-extraction can be memoized on (sentence, separators) instead of
    the much higher-cardinality context key).

    Equals the document-level computation exactly when ``prev_ctx`` /
    ``next_ctx`` carry the (token, pos_tag) adjacent to this sentence in
    the document: the D2 connective features leak at most ONE token across
    each sentence boundary (prev/prevpos via get_prev_token_index,
    conn_next/nextpos via get_next_token_index, utils.py:407-470 with no
    skip set), so a one-token context stub reproduces the document-level
    feature values bit-for-bit."""
    from .discourse_models import load_discourse_models

    doc = []
    if prev_ctx is not None:
        doc.append({"tokens": [prev_ctx[0]], "pos_tags": [prev_ctx[1]],
                    "lemmas": [prev_ctx[0]], "dependencies": []})
    sent_idx = len(doc)
    doc.append({"tokens": tokens, "pos_tags": pos_tags})
    if next_ctx is not None:
        doc.append({"tokens": [next_ctx[0]], "pos_tags": [next_ctx[1]],
                    "lemmas": [next_ctx[0]], "dependencies": []})

    models = load_discourse_models()
    sep = set()
    for c in sorted(_connective_candidates(tokens),
                    key=lambda x: x["connective"]):
        strings = connective_feature_strings(doc, sent_idx, c["indices"],
                                             syntax_tree)
        if models.is_connective(strings):
            sep.update(c["indices"])
    return tuple(sorted(sep))


def extract_sentence_eventualities_discourse(tokens, lemmas, pos_tags,
                                             dependencies, syntax_tree=None,
                                             use_lemma=True, ners=None,
                                             mentions=None, prev_ctx=None,
                                             next_ctx=None):
    """Discourse-path eventualities for ONE parsed sentence, sorted by
    sentence-coordinate position.  Records match the seed kernel's shape;
    ``raw_indices``/``position`` are in SENTENCE coordinates.  See
    ``sentence_connective_separators`` for the context-stub equivalence
    with document-level extraction."""
    sep = sentence_connective_separators(tokens, pos_tags, syntax_tree,
                                         prev_ctx, next_ctx)
    return _sentence_clause_eventualities(
        tokens, lemmas, pos_tags, dependencies, syntax_tree, set(sep),
        use_lemma=use_lemma, ners=ners, mentions=mentions)
