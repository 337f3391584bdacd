"""Full-text search: tokenizer pipeline, inverted index, TF-IDF scoring,
boolean/NEAR query evaluation.

Reference: cozo-core/src/fts/ — tokenizer stack (fts/tokenizer/*), query AST
(fts/ast.rs), TF-IDF scoring and index maintenance (fts/indexing.rs:1-392),
search execution (query/ra.rs:977-1067 FtsSearchRA). Re-expression:

- the inverted index is a DataFrame (term, doc_id, tf, positions) built with
  explode + groupBy — one shuffle on term, columnar, incrementally mergeable;
- a query compiles to a small boolean tree over per-term posting DataFrames;
  AND = inner join on doc_id, OR = union + score-sum, NOT = anti-join,
  NEAR = position-array proximity check via F.exists on zipped positions;
- scoring is TF-IDF: tf from the index, idf = ln(1 + N/df) computed per query
  against a one-row doc-count; top-k via orderBy.limit (TakeOrdered).

At scale the index is the only big artifact; it partitions by term hash and
the per-query joins touch only the queried terms' postings (partition-pruned
if the index is bucketed by term).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# --- tokenizer pipeline (fts/tokenizer/*): Raw | Simple | Whitespace | NGram;
# filters: Lowercase, AsciiFolding, AlphaNumOnly, Stopwords, RemoveLong (all
# JVM-side array transforms), Stemmer, SplitCompoundWords (Arrow-batched
# Python stages) — applied in declared order like the reference's
# TextAnalyzer chain (fts/mod.rs:128-215) --------------------------------------

_ACCENTS = ("áàâäãåçéèêëíìîïñóòôöõúùûüýÿ", "aaaaaaceeeeiiiinooooouuuuyy")


def normalize_filters(spec) -> tuple:
    """Parsed `filters:` option → ((name, args), ...).

    Accepts plain strings ('Lowercase'), parser bare-identifier lists,
    or expression ASTs for call-shaped filters — Stemmer('english'),
    Stopwords('en'), RemoveLong(40), SplitCompoundWords([...])
    (fts/mod.rs:141-215 option parsing)."""
    from cozo_spark.datalog.ast import Call, Const, ListEx, Var

    if spec is None:
        return ()
    items = (list(spec.items) if isinstance(spec, ListEx)
             else list(spec) if isinstance(spec, (list, tuple))
             else [spec])
    out = []
    for it in items:
        if isinstance(it, tuple) and len(it) == 2 and isinstance(it[1], (list, tuple)):
            out.append((str(it[0]), list(it[1])))
        elif isinstance(it, Var):
            out.append((it.name, []))
        elif isinstance(it, Const):
            out.append((str(it.value), []))
        elif isinstance(it, Call):
            from cozo_spark.datalog.parser import const_eval

            out.append((it.fn, [const_eval(a) for a in it.args]))
        elif isinstance(it, str):
            m = re.match(r"(\w+)\((.*)\)$", it)
            if m:
                # parse the whole arg list as Python literals so list-valued
                # filters ("SplitCompoundWords(['of','the'])") arrive intact
                # instead of being comma-split into fragments
                import ast as _pyast

                argtext = m.group(2).strip()
                if argtext:
                    try:
                        parsed = _pyast.literal_eval(f"({argtext},)")
                        args = list(parsed)
                    except (ValueError, SyntaxError):
                        if any(ch in argtext for ch in "[]{}()"):
                            # structured args must be valid literals — never
                            # comma-split a bracketed list into fragments
                            raise ValueError(f"bad FTS filter args in {it!r}")
                        # bare-identifier convenience: Stemmer(german)
                        args = [a.strip().strip("'\"")
                                for a in argtext.split(",") if a.strip()]
                else:
                    args = []
                out.append((m.group(1), args))
            else:
                out.append((it, []))
        else:
            raise ValueError(f"bad FTS filter spec {it!r}")
    return tuple(out)


def _py_token_stage(name: str, args: list):
    """Python token-array function for filters with no JVM expression."""
    if name == "Stemmer":
        from cozo_spark.functions.stemmer import get_stemmer

        fn = get_stemmer(args[0] if args else "english")
        return lambda toks: [fn(t) for t in toks]
    if name == "SplitCompoundWords":
        words = frozenset(str(w).lower() for w in (args[0] if args else []))
        max_len = max((len(w) for w in words), default=0)

        def split_one(tok: str):
            # emit the decomposition only if the WHOLE token splits into
            # dictionary words (tantivy SplitCompoundWords contract)
            n = len(tok)
            best: dict[int, list] = {0: []}
            for i in range(n):
                if i not in best:
                    continue
                for j in range(i + 1, min(n, i + max_len) + 1):
                    if tok[i:j] in words and j not in best:
                        best[j] = best[i] + [tok[i:j]]
            return best.get(n) or [tok]

        return lambda toks: [p for t in toks for p in split_one(t)]
    raise ValueError(f"unknown FTS filter {name!r}")


def _pandas_token_stage(fns):
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, StringType

    @pandas_udf(ArrayType(StringType()))
    def u(s):
        def apply(arr):
            if arr is None:
                return None
            toks = list(arr)
            for fn in fns:
                toks = fn(toks)
            return toks

        return s.map(apply)

    return u


def tokenize_expr(text_col, tokenizer: str = "Simple", filters: tuple = ("Lowercase",)):
    """Build the token-array Column for a given tokenizer + filter chain."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    filters = normalize_filters(filters)
    if tokenizer == "Simple" and not any(n in ("Lowercase", "LowerCase")
                                         for n, _ in filters):
        # the reference's canonical configs pair Simple with Lowercase; our
        # Simple has always folded case (index/query consistency)
        filters = (("Lowercase", []),) + filters
    if tokenizer == "Raw":
        toks = F.array(c)
    elif tokenizer == "Simple":
        toks = F.filter(F.split(c, "[^\\p{L}\\p{N}]+"), lambda t: t != "")
    elif tokenizer == "Whitespace":
        toks = F.filter(F.split(c, "\\s+"), lambda t: t != "")
    elif tokenizer.startswith("Cangjie"):
        # CJK tokenizer (fts/cangjie/tokenizer.rs). The reference's DEFAULT
        # worker is Jieba::empty() — an EMPTY dictionary — whose cut()
        # segments Han text one character at a time and keeps non-CJK
        # alphanumeric runs together. That exact semantics compiles to a
        # JVM regex (no Python, no dictionary):
        #   - kind 'default'/'all'/'search': per-CJK-char + alnum runs
        #   - kind 'unicode': every character is a token (tokenizer.rs:33-40)
        # A user word-list enables the reference's DICT mode
        # (fts/cangjie/tokenizer.rs dict modes) as greedy forward maximum
        # matching: Cangjie('default', ['文档', '问答']) — dict words
        # (longest first) beat the per-char fallback at each position,
        # which is exactly what a longest-first regex alternation does,
        # still one JVM regexp_extract_all, zero Python. The `hmm` flag
        # (options.rs) switches unknown-CJK-run handling from per-char to
        # BMES-Viterbi grouping (functions/cjk_hmm.py — jieba's finalseg
        # structure, pluggable emissions); that path is an Arrow-batched
        # pandas UDF, the same execution model as the stemmer filters.
        kind, words, hmm = _parse_cangjie(tokenizer)
        if hmm and kind != "unicode":
            from cozo_spark.functions.cjk_hmm import cut_text

            wtuple = tuple(words)

            @F.pandas_udf("array<string>")
            def _hmm_cut(s):  # type: ignore[misc]
                return s.map(lambda t: cut_text(t or "", wtuple))

            toks = _hmm_cut(c)
        else:
            base = r"[\s\S]" if kind == "unicode" else _CANGJIE_RE_JVM
            if words:
                alts = "|".join(
                    "\\Q" + w + "\\E"
                    for w in sorted(words, key=len, reverse=True))
                toks = F.regexp_extract_all(c, F.lit(f"(?:{alts})|{base}"), 0)
            else:
                toks = F.regexp_extract_all(c, F.lit(base), 0)
    elif tokenizer.startswith("NGram"):
        m = re.match(r"NGram\((\d+)(?:,\s*(\d+))?", tokenizer)
        lo = int(m.group(1)) if m else 2
        hi = int(m.group(2)) if m and m.group(2) else lo
        parts = []
        for n in range(lo, hi + 1):
            idx = F.sequence(F.lit(1), F.greatest(F.length(c) - n + 1, F.lit(0)))
            parts.append(F.transform(idx, lambda i, nn=n: c.substr(i, F.lit(nn))))
        toks = parts[0]
        for p in parts[1:]:
            toks = F.concat(toks, p)
    else:
        raise ValueError(f"unknown tokenizer {tokenizer!r}")

    py_fns: list = []

    def flush_py(t):
        nonlocal py_fns
        if py_fns:
            t = _pandas_token_stage(py_fns)(t)
            py_fns = []
        return t

    for name, args in filters:
        if name in ("Lowercase", "LowerCase"):
            toks = flush_py(toks)
            toks = F.transform(toks, F.lower)
        elif name == "AsciiFolding":
            toks = flush_py(toks)
            toks = F.transform(toks, lambda t: F.translate(t, *_ACCENTS))
        elif name == "AlphaNumOnly":
            toks = flush_py(toks)
            toks = F.filter(toks, lambda t: t.rlike("^[\\p{L}\\p{N}]+$"))
        elif name == "Stopwords":
            toks = flush_py(toks)
            stop = F.array(*[F.lit(w) for w in _resolve_stopwords(args)])
            toks = F.filter(toks, lambda t: ~F.array_contains(stop, t))
        elif name == "RemoveLong":
            toks = flush_py(toks)
            limit = int(args[0]) if args else 40
            # RemoveLongFilter::limit(n) keeps tokens strictly shorter than n
            toks = F.filter(toks, lambda t: F.length(t) < limit)
        else:
            py_fns.append(_py_token_stage(name, args))
    toks = flush_py(toks)
    return toks


def py_apply_filters(terms: list, filters: tuple) -> list:
    """Driver-side mirror of the filter chain for QUERY terms — the same
    normalization must hit both sides or stemmed/stopped indexes miss."""
    toks = list(terms)
    for name, args in normalize_filters(filters):
        if name in ("Lowercase", "LowerCase"):
            toks = [t.lower() for t in toks]
        elif name == "AsciiFolding":
            table = str.maketrans(*_ACCENTS)
            toks = [t.translate(table) for t in toks]
        elif name == "AlphaNumOnly":
            # same character class as the JVM side's ^[\p{L}\p{N}]+$ —
            # [^\W_] is unicode letter/digit WITHOUT underscore
            toks = [t for t in toks if re.fullmatch(r"[^\W_]+", t, re.UNICODE)]
        elif name == "Stopwords":
            stop = set(_resolve_stopwords(args))
            toks = [t for t in toks if t not in stop]
        elif name == "RemoveLong":
            limit = int(args[0]) if args else 40
            toks = [t for t in toks if len(t) < limit]
        else:
            toks = _py_token_stage(name, args)(toks)
    return toks


_EN_STOP = ["a", "an", "and", "are", "as", "at", "be", "by", "for", "from",
            "has", "he", "in", "is", "it", "its", "of", "on", "that", "the",
            "to", "was", "were", "will", "with"]

# Per-language stopword sets for Stopwords(<lang>) (fts/mod.rs:210-231: the
# reference resolves a language name via bundled stopwords-iso lists, or
# accepts an explicit word list). These are compact built-in sets of the
# highest-frequency function words; pass an explicit list for a fuller set.
_STOPWORDS = {
    "en": _EN_STOP,
    "de": ["der", "die", "das", "und", "in", "den", "von", "zu", "mit",
           "sich", "des", "auf", "für", "ist", "im", "dem", "nicht", "ein",
           "eine", "als", "auch", "es", "an", "werden", "aus", "er", "hat",
           "dass", "sie", "nach", "wird", "bei", "einer", "um", "am",
           "sind", "noch", "wie", "einem", "über"],
    "fr": ["le", "la", "les", "de", "des", "du", "un", "une", "et", "en",
           "que", "qui", "dans", "pour", "sur", "est", "au", "aux", "avec",
           "ne", "pas", "se", "par", "plus", "ce", "cette", "il", "elle",
           "nous", "vous", "ils", "son", "sa", "ses", "mais", "ou", "où"],
    "es": ["el", "la", "los", "las", "de", "del", "un", "una", "y", "en",
           "que", "por", "para", "con", "no", "se", "es", "su", "sus", "al",
           "lo", "como", "más", "pero", "o", "este", "esta", "son", "le"],
    "it": ["il", "lo", "la", "i", "gli", "le", "di", "del", "della", "un",
           "una", "e", "in", "che", "per", "con", "non", "si", "è", "al",
           "da", "dei", "delle", "come", "più", "ma", "o", "sono", "su"],
    "pt": ["o", "a", "os", "as", "de", "do", "da", "dos", "das", "um",
           "uma", "e", "em", "que", "por", "para", "com", "não", "se",
           "ao", "no", "na", "nos", "nas", "como", "mais", "mas", "ou"],
    "nl": ["de", "het", "een", "van", "en", "in", "op", "dat", "die", "te",
           "is", "voor", "met", "zijn", "niet", "aan", "er", "om", "ook",
           "als", "maar", "bij", "of", "uit", "naar", "dan", "worden"],
    "da": ["og", "i", "det", "at", "en", "den", "til", "er", "som", "på",
           "de", "med", "han", "af", "for", "ikke", "der", "var", "mig",
           "et", "men", "har", "om", "vi", "min", "havde", "fra"],
    "no": ["og", "i", "det", "at", "en", "et", "den", "til", "er", "som",
           "på", "de", "med", "han", "av", "ikke", "der", "så", "var",
           "men", "har", "om", "vi", "fra", "du", "kan", "skal"],
    "sv": ["och", "i", "det", "att", "en", "ett", "den", "till", "är",
           "som", "på", "de", "med", "han", "av", "inte", "der", "så",
           "var", "men", "har", "om", "vi", "från", "du", "kan", "ska"],
    "ru": ["и", "в", "не", "на", "я", "что", "он", "с", "это", "как",
           "по", "но", "из", "у", "за", "то", "же", "от", "о", "так",
           "его", "к", "а", "все", "она", "они", "мы", "был", "для"],
    "zh": ["的", "了", "是", "在", "和", "有", "我", "他", "这", "就",
           "不", "也", "都", "而", "与", "着", "或", "被", "把", "为"],
}
_STOP_ALIASES = {
    "english": "en", "german": "de", "french": "fr", "spanish": "es",
    "italian": "it", "portuguese": "pt", "dutch": "nl", "danish": "da",
    "norwegian": "no", "swedish": "sv", "russian": "ru", "chinese": "zh",
}


def _resolve_stopwords(args: list) -> list:
    """Stopwords filter arg → word list (language name, code, explicit
    list, or no arg = English)."""
    if not args:
        return _EN_STOP
    a = args[0]
    if isinstance(a, (list, tuple)):
        return [str(w) for w in a]
    name = str(a).strip().lower()
    code = _STOP_ALIASES.get(name, name)
    if code in _STOPWORDS:
        return _STOPWORDS[code]
    raise ValueError(
        f"Stopwords: unsupported language {a!r} (supported: "
        f"{sorted(_STOP_ALIASES)}; or pass an explicit word list)")

# Java regex (JVM side): one CJK char per token, or a run of non-CJK
# letters/digits ([[..]&&[^..]] is Java char-class intersection)
_CJK_CLASS = r"\p{IsHan}\p{IsHiragana}\p{IsKatakana}\p{IsHangul}"
_CANGJIE_RE_JVM = (f"[{_CJK_CLASS}]|[[\\p{{L}}\\p{{N}}]&&[^{_CJK_CLASS}]]+")
# Python mirror for query-side tokenization (re has no \p{IsHan}; use
# explicit unicode ranges for the same blocks)
_CJK_RANGES = ("一-鿿㐀-䶿"   # Han
               "぀-ゟ゠-ヿ"   # Hiragana, Katakana
               "가-힯ᄀ-ᇿ")  # Hangul
_CANGJIE_RE_PY = re.compile(
    f"[{_CJK_RANGES}]|[^\\W_{_CJK_RANGES}]+", re.UNICODE)


def _parse_cangjie(spec: str) -> tuple:
    """Cangjie spec string → (kind, dict_words, hmm). Accepts `Cangjie`,
    `Cangjie('unicode')`, `Cangjie('default', ['词一', '词二'])` (the
    word list enables forward-max-match dict segmentation) and an `hmm`
    flag (`Cangjie('default', hmm: true)` / `..., ['词'], hmm)`) enabling
    BMES unknown-word grouping (options.rs `hmm`)."""
    kind = "default"
    m = re.match(r"Cangjie\(\s*'?(\w+)'?", spec)
    if m:
        kind = m.group(1).lower()
    words: list = []
    lm = re.search(r"\[(.*?)\]", spec, re.DOTALL)
    if lm:
        words = re.findall(r"'([^']+)'", lm.group(1))
    hmm = bool(re.search(r"\bhmm\b\s*(?:[:=]\s*(?:true|True))?\s*[,)]?",
                         spec)) and not re.search(
        r"\bhmm\b\s*[:=]\s*(?:false|False)", spec)
    return kind, words, hmm


def py_cangjie_tokenize(text: str, kind: str = "default",
                        words: tuple = (), hmm: bool = False) -> list:
    """Driver-side mirror of the Cangjie tokenizer for query terms
    (same greedy longest-first dict alternation as the JVM regex; with
    `hmm`, the same BMES unknown-run grouping as the index kernel)."""
    if hmm and kind != "unicode":
        from cozo_spark.functions.cjk_hmm import cut_text

        return cut_text(text, tuple(words))
    if words:
        alts = "|".join(re.escape(w)
                        for w in sorted(words, key=len, reverse=True))
        base = r"[\s\S]" if kind == "unicode" else _CANGJIE_RE_PY.pattern
        return re.findall(f"(?:{alts})|{base}", text, re.UNICODE)
    if kind == "unicode":
        return list(text)
    return _CANGJIE_RE_PY.findall(text)


def build_fts_index(df: DataFrame, text_col: str, id_col: str,
                    tokenizer: str = "Simple", filters: tuple = ("Lowercase",)) -> DataFrame:
    """(term, doc_id, tf, positions): the inverted index.

    positions are token offsets (for NEAR); one shuffle on (doc, term) then
    the index lives partitioned by term.
    """
    toks = tokenize_expr(text_col, tokenizer, filters)
    exploded = (
        df.select(F.col(id_col).alias("doc_id"), F.posexplode(toks).alias("pos", "term"))
    )
    return (
        exploded.groupBy("term", "doc_id")
        .agg(F.count("*").cast("long").alias("tf"),
             F.sort_array(F.collect_list("pos")).alias("positions"))
    )


def with_doc_freq(index: DataFrame) -> DataFrame:
    """The index's (term, doc_id, tf, positions) rows plus ``doc_freq``, the
    number of documents holding the term. Rows are unique on (term, doc_id),
    so count(*) per term is that number; stored on every posting row, a
    search scores from the rows its term filter reads, with no join."""
    from pyspark.sql import Window as W

    return (index.select("term", "doc_id", "tf", "positions")
            .withColumn("doc_freq", F.count("*").over(W.partitionBy("term"))))


# --- query AST (fts/ast.rs; grammar cozoscript.pest fts_* rules) ----------------


@dataclass
class FtsPhrase:
    terms: list          # consecutive terms (phrase = positional adjacency)
    prefix: bool = False
    boost: float = 1.0


@dataclass
class FtsNear:
    phrases: list
    distance: int = 10


@dataclass
class FtsBool:
    op: str              # 'and' | 'or' | 'not'
    children: list = field(default_factory=list)


_FTS_TOK = re.compile(r"""
    (?P<lparen>\() | (?P<rparen>\)) |
    (?P<and>AND\b) | (?P<or>OR\b|,|;) | (?P<not>NOT\b) |
    (?P<near>NEAR(?:/(?P<dist>\d+))?\s*\() |
    (?P<quoted>"[^"]*"|'[^']*') |
    (?P<word>[\w*]+(?:\^[\d.]+)?) |
    (?P<ws>\s+)
""", re.VERBOSE)


def parse_fts_query(q: str):
    """Parse the reference's FTS query syntax into an AST."""
    toks = []
    pos = 0
    while pos < len(q):
        m = _FTS_TOK.match(q, pos)
        if not m:
            raise ValueError(f"bad FTS query at {q[pos:]!r}")
        kind = m.lastgroup
        if kind != "ws":
            toks.append((kind, m))
        pos = m.end()
    out, i = _parse_fts_expr(toks, 0)
    return out


def _mk_phrase(text: str) -> FtsPhrase:
    boost = 1.0
    prefix = False
    if "^" in text:
        text, b = text.rsplit("^", 1)
        boost = float(b)
    if text.endswith("*"):
        prefix = True
        text = text[:-1]
    terms = [t for t in re.split(r"[^\w]+", text.lower()) if t]
    return FtsPhrase(terms, prefix, boost)


def _parse_fts_expr(toks, i):
    items = []
    ops = []
    while i < len(toks):
        kind, m = toks[i]
        if kind == "rparen":
            break
        if kind == "lparen":
            sub, i = _parse_fts_expr(toks, i + 1)
            if i < len(toks) and toks[i][0] == "rparen":
                i += 1
            items.append(sub)
        elif kind == "near":
            dist = int(m.group("dist") or 10)
            phrases = []
            i += 1
            while i < len(toks) and toks[i][0] != "rparen":
                k2, m2 = toks[i]
                if k2 in ("word", "quoted"):
                    txt = m2.group(0).strip("\"'")
                    phrases.append(_mk_phrase(txt))
                i += 1
            if i < len(toks):
                i += 1  # consume rparen
            items.append(FtsNear(phrases, dist))
        elif kind in ("word", "quoted"):
            txt = m.group(0).strip("\"'")
            items.append(_mk_phrase(txt))
            i += 1
        elif kind in ("and", "or", "not"):
            ops.append(kind)
            i += 1
        else:
            i += 1
    if not items:
        raise ValueError("empty FTS query")
    # fold: adjacent items with no op = AND (reference: implicit AND);
    # NOT binds to the following item
    tree = items[0]
    oi = 0
    for nxt in items[1:]:
        op = ops[oi] if oi < len(ops) else "and"
        oi += 1
        if op == "not":
            tree = FtsBool("not", [tree, nxt])
        elif op == "or":
            tree = FtsBool("or", [tree, nxt])
        else:
            tree = FtsBool("and", [tree, nxt])
    return tree, i


# --- search execution (ra.rs:977-1067) ------------------------------------------


class FtsIndex:
    """A built FTS index + the stats needed for scoring."""

    def __init__(self, index_df: DataFrame, n_docs: int,
                 tokenizer: str = "Simple", filters: tuple = ("Lowercase",)):
        # index_df: (term, doc_id, tf, positions, doc_freq) — see with_doc_freq
        self.df = index_df
        self.n_docs = n_docs
        self.tokenizer = tokenizer
        self.filters = filters

    @classmethod
    def build(cls, df: DataFrame, text_col: str, id_col: str,
              tokenizer: str = "Simple", filters: tuple = ("Lowercase",)) -> "FtsIndex":
        from cozo_spark.datalog.fixpoint import _checkpoint

        idx = _checkpoint(with_doc_freq(
            build_fts_index(df, text_col, id_col, tokenizer, filters)))
        return cls(idx, df.count(), tokenizer, filters)

    def search(self, query: str, k: int = 10, score_kind: str = "tf_idf",
               candidates: DataFrame | None = None) -> DataFrame:
        """(doc_id, score) top-k by TF-IDF or plain TF (fts/indexing.rs
        scoring; score_kind param of FtsSearch, data/program.rs:1283-1301),
        at most one row per doc_id.
        ``candidates`` (doc_id frame) restricts the result BEFORE top-k —
        the filter: option's semantics."""
        tf_only = str(score_kind).lower().replace("-", "_") == "tf"
        ast = parse_fts_query(query)
        ast = self._filter_terms(ast)
        if ast is None:
            # query vanished after filtering (e.g. all stopwords): the
            # reference returns an empty result set, not an error
            # (fts/indexing.rs:257-260)
            return (self.df.select("doc_id")
                    .withColumn("score", F.lit(0.0)).limit(0))
        scored = self._eval(ast, tf_only)
        if candidates is not None:
            scored = scored.join(candidates, "doc_id", "left_semi")
        return (
            scored.orderBy(F.col("score").desc(), F.col("doc_id"))
            .limit(k)
        )

    def _filter_terms(self, node):
        """Run the index's filter chain over query terms (both sides must
        normalize identically — the reference tokenizes queries with the
        index's TextAnalyzer). Prefix terms skip Python rewrites (a stemmed
        prefix would no longer be a prefix of indexed terms)."""
        if isinstance(node, FtsPhrase):
            if self.tokenizer.startswith("Cangjie"):
                # re-tokenize with the index's CJK tokenizer: a query term
                # like 文档问答 becomes the per-char phrase [文,档,问,答]
                # (positional adjacency), matching the indexed tokens
                kind, words, hmm = _parse_cangjie(self.tokenizer)
                node = FtsPhrase(
                    [t for term in node.terms
                     for t in py_cangjie_tokenize(term, kind, tuple(words),
                                                  hmm)],
                    node.prefix, node.boost)
            if node.prefix:
                # the reference pushes prefix literals UNTOKENIZED
                # (fts/ast.rs:21-25): skip every dropping/rewriting filter —
                # a stemmed prefix is no longer a prefix of indexed terms, and
                # Stopwords/AlphaNumOnly/RemoveLong would silently drop "a*".
                # Keep only case/accent normalization.
                keep = ("Lowercase", "LowerCase", "AsciiFolding")
                flt = tuple(f for f in normalize_filters(self.filters)
                            if f[0] in keep)
            else:
                flt = self.filters
            terms = py_apply_filters(node.terms, flt)
            if not terms:
                return None
            return FtsPhrase(terms, node.prefix, node.boost)
        if isinstance(node, FtsNear):
            phrases = [p for p in (self._filter_terms(x) for x in node.phrases)
                       if p is not None]
            if not phrases:
                return None
            return FtsNear(phrases, node.distance)
        if isinstance(node, FtsBool):
            kids = [self._filter_terms(c) for c in node.children]
            if node.op == "not":
                if kids[0] is None:
                    return None
                if kids[1] is None:  # nothing to exclude
                    return kids[0]
                return FtsBool("not", kids)
            kids = [k for k in kids if k is not None]
            if not kids:
                return None
            if len(kids) == 1:
                return kids[0]
            return FtsBool(node.op, kids)
        return node

    def _idf_col(self, dfc, tf_only: bool) -> F.Column:
        """idf = ln(1 + N/df) as a Column (1.0 for plain TF scoring); df is
        the posting rows' doc_freq, so scoring needs no join or action."""
        if tf_only:
            return F.lit(1.0)
        return F.log(F.lit(1.0) + F.lit(float(self.n_docs)) / F.greatest(dfc, F.lit(1)))

    # posting set for one phrase, scored
    def _phrase_postings(self, p: FtsPhrase, tf_only: bool) -> DataFrame:
        idx = self.df
        if not p.terms:
            raise ValueError("empty phrase")
        if p.prefix and len(p.terms) == 1:
            # prefix df = number of matching docs: computed in-plan as a
            # 1-row aggregate cross-joined back (broadcast NL, no action)
            grouped = (idx.filter(F.col("term").startswith(p.terms[0]))
                       .groupBy("doc_id").agg(F.sum("tf").alias("__tfs")))
            dfc = grouped.agg(F.count("*").alias("__dfc"))
            return (grouped.crossJoin(dfc)
                    .select("doc_id",
                            (F.col("__tfs") * self._idf_col(F.col("__dfc"), tf_only)
                             * p.boost).alias("score")))
        parts = []
        for i, t in enumerate(p.terms):
            parts.append(
                idx.filter(F.col("term") == t)
                .select("doc_id", F.col("tf").alias(f"tf_{i}"),
                        F.col("positions").alias(f"pos_{i}"),
                        F.col("doc_freq").alias(f"df_{i}")))
        cur = parts[0]
        for i, nxt in enumerate(parts[1:], start=1):
            cur = cur.join(nxt, "doc_id")
            # phrase adjacency: some position in pos_i equals pos_{i-1}+1
            adj = F.exists(
                F.col(f"pos_{i - 1}"),
                lambda x: F.exists(F.col(f"pos_{i}"), lambda y: y == x + 1))
            cur = cur.filter(adj)
        score = None
        for i, t in enumerate(p.terms):
            s = F.col(f"tf_{i}") * self._idf_col(F.col(f"df_{i}"), tf_only)
            score = s if score is None else score + s
        return cur.select("doc_id", (score * p.boost).alias("score"))

    def _eval(self, node, tf_only: bool) -> DataFrame:
        if isinstance(node, FtsPhrase):
            return self._phrase_postings(node, tf_only)
        if isinstance(node, FtsNear):
            return self._eval_near(node, tf_only)
        if isinstance(node, FtsBool):
            l = self._eval(node.children[0], tf_only)
            r = self._eval(node.children[1], tf_only)
            if node.op == "and":
                return (l.withColumnRenamed("score", "s1")
                        .join(r.withColumnRenamed("score", "s2"), "doc_id")
                        .select("doc_id", (F.col("s1") + F.col("s2")).alias("score")))
            if node.op == "or":
                return (l.unionByName(r).groupBy("doc_id")
                        .agg(F.sum("score").alias("score")))
            if node.op == "not":
                return l.join(r.select("doc_id"), "doc_id", "left_anti")
        raise ValueError(f"bad FTS node {node!r}")

    def _eval_near(self, node: FtsNear, tf_only: bool) -> DataFrame:
        # all phrases present, min pairwise distance <= node.distance
        parts = [self._phrase_postings_with_positions(p, i, tf_only)
                 for i, p in enumerate(node.phrases)]
        cur = parts[0]
        for i, nxt in enumerate(parts[1:], start=1):
            cur = cur.join(nxt, "doc_id")
            near = F.exists(
                F.col(f"np_{i - 1}"),
                lambda x: F.exists(F.col(f"np_{i}"),
                                   lambda y: F.abs(y - x) <= node.distance))
            cur = cur.filter(near)
        score = None
        for i in range(len(parts)):
            s = F.col(f"ns_{i}")
            score = s if score is None else score + s
        return cur.select("doc_id", score.alias("score"))

    def _phrase_postings_with_positions(self, p: FtsPhrase, tag: int,
                                        tf_only: bool) -> DataFrame:
        t = p.terms[0]
        return (
            self.df.filter(F.col("term") == t)
            .select("doc_id",
                    (F.col("tf") * self._idf_col(F.col("doc_freq"), tf_only)
                     * p.boost).alias(f"ns_{tag}"),
                    F.col("positions").alias(f"np_{tag}"))
        )
