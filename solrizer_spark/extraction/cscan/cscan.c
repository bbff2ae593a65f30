/* cscan — C implementation of the HTML extraction kernel.
 *
 * Semantics: byte-for-byte the same raw text, title and block features
 * as the stdlib reference backend in solrizer_spark/extraction/
 * html_text.py: the html.parser.HTMLParser(convert_charrefs=True)
 * event stream driven into html_text._ExtractorState. Every regex the
 * reference takes from the stdlib (tagfind_tolerant,
 * locatestarttagend_tolerant, attrfind_tolerant, endtagfind,
 * commentclose, html._charref) is hand-transcribed here; the charref /
 * whitespace / tag-class tables are GENERATED from the running
 * Python's stdlib + html_text constants (see gen_tables.py), so data
 * cannot drift — only control flow can, and that is pinned by the
 * differential fuzz + golden suite run over this backend.
 *
 * Honest-bail contract: constructs whose Python semantics depend on
 * Unicode case-folding or on rarely-exercised stdlib paths return
 * BAIL (caller re-runs the document through the stdlib reference, so
 * parity holds by construction):
 *   - marked sections ("<![" ...) — AssertionError paths in stdlib;
 *   - tag names containing non-ASCII bytes (str.lower() differs);
 *   - a potential case-folded CDATA close ("</ſcript"-style).
 * At web scale these are a vanishing fraction of documents; the
 * per-document fallback keeps the fast path branch-free.
 *
 * Indexing note: C scans UTF-8 BYTES where Python scans codepoints.
 * All markup delimiters are ASCII, so byte positions and codepoint
 * positions agree at every decision boundary; character COUNTS
 * (n_chars, link_chars, the 32-cp charref-name cap) are taken over
 * decoded codepoints.
 */

#include <stdlib.h>
#include <string.h>
#include <stdint.h>

#include "charref_tables.h"

/* ---------------- result structs (mirrored in ctypes) -------------- */

typedef struct {
    int64_t text_off, text_len;   /* bytes into strtab */
    int64_t path_off, path_len;
    int32_t n_chars, n_words, link_chars, boiler;
} BlockRec;

typedef struct {
    int32_t bail;
    int32_t n_blocks;
    int64_t raw_len, title_len, strtab_len;
    char *raw;
    char *title;
    char *strtab;
    BlockRec *blocks;
} Result;

/* ---------------- growable buffers --------------------------------- */

typedef struct { uint8_t *p; size_t len, cap; } Buf;

static int buf_reserve(Buf *b, size_t extra) {
    if (b->len + extra <= b->cap) return 1;
    size_t cap = b->cap ? b->cap : 64;
    while (cap < b->len + extra) cap *= 2;
    uint8_t *np = realloc(b->p, cap);
    if (!np) return 0;
    b->p = np; b->cap = cap;
    return 1;
}

static int buf_push(Buf *b, const uint8_t *s, size_t n) {
    if (!buf_reserve(b, n)) return 0;
    memcpy(b->p + b->len, s, n);
    b->len += n;
    return 1;
}

static int buf_push1(Buf *b, uint8_t c) { return buf_push(b, &c, 1); }

/* ---------------- utf-8 -------------------------------------------- */

/* Decode the codepoint starting at s[i]; input is valid UTF-8 (it
 * comes from CPython's str.encode). */
static inline uint32_t u8_cp(const uint8_t *s, size_t i, int *len) {
    uint8_t c = s[i];
    if (c < 0x80) { *len = 1; return c; }
    if (c < 0xE0) { *len = 2; return ((uint32_t)(c & 0x1F) << 6) | (s[i+1] & 0x3F); }
    if (c < 0xF0) {
        *len = 3;
        return ((uint32_t)(c & 0x0F) << 12) | ((uint32_t)(s[i+1] & 0x3F) << 6)
             | (s[i+2] & 0x3F);
    }
    *len = 4;
    return ((uint32_t)(c & 0x07) << 18) | ((uint32_t)(s[i+1] & 0x3F) << 12)
         | ((uint32_t)(s[i+2] & 0x3F) << 6) | (s[i+3] & 0x3F);
}

static int enc_utf8(Buf *b, uint32_t cp) {
    uint8_t t[4];
    if (cp < 0x80) { t[0] = cp; return buf_push(b, t, 1); }
    if (cp < 0x800) {
        t[0] = 0xC0 | (cp >> 6); t[1] = 0x80 | (cp & 0x3F);
        return buf_push(b, t, 2);
    }
    if (cp < 0x10000) {
        t[0] = 0xE0 | (cp >> 12); t[1] = 0x80 | ((cp >> 6) & 0x3F);
        t[2] = 0x80 | (cp & 0x3F);
        return buf_push(b, t, 3);
    }
    t[0] = 0xF0 | (cp >> 18); t[1] = 0x80 | ((cp >> 12) & 0x3F);
    t[2] = 0x80 | ((cp >> 6) & 0x3F); t[3] = 0x80 | (cp & 0x3F);
    return buf_push(b, t, 4);
}

/* codepoint ENDING at byte position i (i.e. the char before s[i]) */
static inline uint32_t u8_prev_cp(const uint8_t *s, size_t i) {
    size_t j = i - 1;
    while (j > 0 && (s[j] & 0xC0) == 0x80) j--;
    int len;
    return u8_cp(s, j, &len);
}

/* ---------------- regex-equivalent scanners ------------------------ */

/* \s*  (Python re \s over str == str.isspace set) */
static size_t skip_sp(const uint8_t *s, size_t n, size_t i) {
    while (i < n) {
        int len; uint32_t cp = u8_cp(s, i, &len);
        if (!is_pyspace(cp)) break;
        i += len;
    }
    return i;
}

/* (?:\s|/(?!>))*  — the tagfind/attrfind/startag inter-token gap */
static size_t gap_ws_slash(const uint8_t *s, size_t n, size_t i) {
    for (;;) {
        if (i >= n) return i;
        uint8_t c = s[i];
        if (c == '/') {
            if (i + 1 < n && s[i+1] == '>') return i;
            i++; continue;
        }
        int len; uint32_t cp = u8_cp(s, i, &len);
        if (!is_pyspace(cp)) return i;
        i += len;
    }
}

/* [\s/]*  — locatestarttagend's pre-attribute gap */
static size_t gap_ws_anyslash(const uint8_t *s, size_t n, size_t i) {
    for (;;) {
        if (i >= n) return i;
        if (s[i] == '/') { i++; continue; }
        int len; uint32_t cp = u8_cp(s, i, &len);
        if (!is_pyspace(cp)) return i;
        i += len;
    }
}

/* tagfind_tolerant name: s[i] is the leading [a-zA-Z]; consume
 * [^\t\n\r\f />\x00]* after it. Returns name end; sets *nonascii. */
static size_t scan_tag_name(const uint8_t *s, size_t n, size_t i,
                            int *nonascii) {
    size_t p = i + 1;
    *nonascii = 0;
    while (p < n) {
        uint8_t c = s[p];
        if (c == '\t' || c == '\n' || c == '\r' || c == '\f' || c == ' '
            || c == '/' || c == '>' || c == 0)
            break;
        if (c >= 0x80) *nonascii = 1;
        p++;
    }
    return p;
}

/* (?<=['"\s/]) */
static int lookbehind_ok(const uint8_t *s, size_t i) {
    uint8_t c = s[i-1];
    if (c == '\'' || c == '"' || c == '/') return 1;
    if (c < 0x80) return is_pyspace(c);
    return is_pyspace(u8_prev_cp(s, i));
}

/* bare value: (?!['"])[^>\s]*  (caller checked the lookahead) */
static size_t scan_bare(const uint8_t *s, size_t n, size_t p) {
    while (p < n) {
        if (s[p] == '>') break;
        int l; uint32_t cp = u8_cp(s, p, &l);
        if (is_pyspace(cp)) break;
        p += l;
    }
    return p;
}

/* the optional attribute-value group
 *     (?:\s*=+\s*('[^']*'|"[^"]*"|(?!['"])[^>\s]*) [(?:\s*,)*] )?
 * matched at q with the regex engine's backtracking order made
 * explicit. Greedy \s*=+\s* first; if the char there is an
 * UNTERMINATED quote, the engine backtracks:
 *   1. give back one post-'=' space  → empty bare value there;
 *   2. else give back one '='        → bare value starts at that '=';
 *   3. else the whole group matches empty (returns q).
 * with_commas adds locatestarttagend's (?:\s*,)* tail. */
static size_t value_group(const uint8_t *s, size_t n, size_t q,
                          int with_commas) {
    size_t v0 = skip_sp(s, n, q);
    if (!(v0 < n && s[v0] == '=')) return q;
    size_t ve = v0;
    while (ve < n && s[ve] == '=') ve++;
    size_t v2 = skip_sp(s, n, ve);
    size_t vend;
    if (v2 < n && (s[v2] == '\'' || s[v2] == '"')) {
        uint8_t qc = s[v2]; size_t e = v2 + 1;
        while (e < n && s[e] != qc) e++;
        if (e < n) vend = e + 1;
        else if (v2 > ve) {
            /* back off one space codepoint: empty bare value there */
            size_t j2 = v2 - 1;
            while (j2 > ve && (s[j2] & 0xC0) == 0x80) j2--;
            vend = j2;
        } else if (ve - v0 > 1) {
            /* back off one '=': bare value starts at the last '=' */
            vend = scan_bare(s, n, ve - 1);
        } else return q;          /* whole group fails → matches empty */
    } else {
        vend = scan_bare(s, n, v2);
    }
    if (with_commas) {
        for (;;) {
            size_t t = skip_sp(s, n, vend);
            if (t < n && s[t] == ',') vend = t + 1; else break;
        }
    }
    return vend;
}

/* attrfind_tolerant.match(s, i): returns match end, or SIZE_MAX when
 * no match. */
static size_t attrfind_match(const uint8_t *s, size_t n, size_t i) {
    if (i >= n || i == 0) return SIZE_MAX;
    if (!lookbehind_ok(s, i)) return SIZE_MAX;
    uint8_t c = s[i];
    if (c == '/' || c == '>') return SIZE_MAX;
    int len; uint32_t cp = u8_cp(s, i, &len);
    if (is_pyspace(cp)) return SIZE_MAX;
    size_t q = i + len;
    while (q < n) {                       /* [^\s/=>]* */
        c = s[q];
        if (c == '/' || c == '=' || c == '>') break;
        int l2; uint32_t cp2 = u8_cp(s, q, &l2);
        if (is_pyspace(cp2)) break;
        q += l2;
    }
    q = value_group(s, n, q, 0);
    return gap_ws_slash(s, n, q);         /* (?:\s|/(?!>))* */
}

/* locatestarttagend_tolerant.match(s, i): s[i]=='<', s[i+1] ascii
 * alpha (caller checked). Returns match end; sets *nonascii_name. */
static size_t startag_end(const uint8_t *s, size_t n, size_t i,
                          int *nonascii_name) {
    size_t p = scan_tag_name(s, n, i + 1, nonascii_name);
    size_t q = gap_ws_anyslash(s, n, p);  /* [\s/]* */
    for (;;) {                            /* attribute loop */
        if (q >= n) break;
        uint8_t c = s[q];
        if (c == '/' || c == '>') break;
        int len; uint32_t cp = u8_cp(s, q, &len);
        if (is_pyspace(cp)) break;
        if (!lookbehind_ok(s, q)) break;
        q += len;
        while (q < n) {                   /* attr name [^\s/=>]* */
            c = s[q];
            if (c == '/' || c == '=' || c == '>') break;
            int l2; uint32_t cp2 = u8_cp(s, q, &l2);
            if (is_pyspace(cp2)) break;
            q += l2;
        }
        q = value_group(s, n, q, 1);      /* (\s*=+\s* value (\s*,)*)? */
        q = gap_ws_slash(s, n, q);        /* inter-attr gap */
    }
    return skip_sp(s, n, q);              /* trailing \s* */
}

/* endtagfind.match(s, i): "</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>".
 * On match: name_a..name_b = name span, returns match end; else
 * SIZE_MAX. (Name class is pure ASCII by construction.) */
static size_t endtag_match(const uint8_t *s, size_t n, size_t i,
                           size_t *name_a, size_t *name_b) {
    size_t p = skip_sp(s, n, i + 2);
    if (p >= n) return SIZE_MAX;
    uint8_t c = s[p];
    if (!((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z'))) return SIZE_MAX;
    size_t a = p; p++;
    while (p < n) {
        c = s[p];
        if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
            || (c >= '0' && c <= '9') || c == '-' || c == '.' || c == ':'
            || c == '_') { p++; continue; }
        break;
    }
    size_t b = p;
    p = skip_sp(s, n, p);
    if (p < n && s[p] == '>') { *name_a = a; *name_b = b; return p + 1; }
    return SIZE_MAX;
}

/* _eof_span: recovery slice end for an unterminated construct. */
static size_t eof_span(const uint8_t *s, size_t n, size_t i) {
    const uint8_t *gt = memchr(s + i + 1, '>', n - i - 1);
    if (gt) return (size_t)(gt - s) + 1;
    const uint8_t *lt = memchr(s + i + 1, '<', n - i - 1);
    if (lt) return (size_t)(lt - s);
    return i + 1;
}

/* ---------------- charref replacement (html.unescape) -------------- */

static const Ent *ent_lookup(const uint8_t *key, size_t klen) {
    size_t lo = 0, hi = N_ENTS;
    while (lo < hi) {
        size_t mid = (lo + hi) / 2;
        const Ent *e = &ENTS[mid];
        size_t m = klen < e->klen ? klen : e->klen;
        int c = memcmp(key, e->key, m);
        if (c == 0) c = (int)klen - (int)e->klen;
        if (c == 0) return e;
        if (c < 0) hi = mid; else lo = mid + 1;
    }
    return NULL;
}

static int emit_numeric(Buf *out, uint32_t num, int overflow) {
    if (!overflow) {
        for (int k = 0; k < N_INVREF; k++)
            if (INVREF[k].cp == num)
                return buf_push(out, (const uint8_t *)INVREF[k].val,
                                INVREF[k].vlen);
    }
    if (overflow || (num >= 0xD800 && num <= 0xDFFF) || num > 0x10FFFF) {
        static const uint8_t fffd[3] = {0xEF, 0xBF, 0xBD};
        return buf_push(out, fffd, 3);
    }
    size_t lo = 0, hi = N_INVCP;
    while (lo < hi) {
        size_t mid = (lo + hi) / 2;
        if (INVCP[mid] == num) return 1;   /* maps to '' */
        if (INVCP[mid] < num) lo = mid + 1; else hi = mid;
    }
    return enc_utf8(out, num);
}

/* html._charref named-ref class: [^\t\n\f <&#;] */
static inline int charref_name_cp(uint32_t cp) {
    return !(cp == '\t' || cp == '\n' || cp == '\f' || cp == ' '
             || cp == '<' || cp == '&' || cp == '#' || cp == ';');
}

/* html.unescape(s[a:b]) appended to out.  Returns 0 on OOM. */
static int append_unescaped(Buf *out, const uint8_t *s, size_t a, size_t b) {
    size_t i = a;
    for (;;) {
        const uint8_t *amp = memchr(s + i, '&', b - i);
        if (!amp) return buf_push(out, s + i, b - i);
        size_t ai = (size_t)(amp - s);
        if (!buf_push(out, s + i, ai - i)) return 0;
        i = ai;
        size_t j = i + 1;
        if (j < b && s[j] == '#') {
            size_t k = j + 1, h;
            int hex = (k < b && (s[k] == 'x' || s[k] == 'X'));
            if (hex) k++;
            h = k;
            if (hex)
                while (k < b && ((s[k] >= '0' && s[k] <= '9')
                                 || (s[k] >= 'a' && s[k] <= 'f')
                                 || (s[k] >= 'A' && s[k] <= 'F'))) k++;
            else
                while (k < b && s[k] >= '0' && s[k] <= '9') k++;
            if (k > h) {
                size_t d = h;
                while (d < k && s[d] == '0') d++;     /* leading zeros */
                uint32_t num = 0; int overflow = 0;
                for (size_t t = d; t < k; t++) {
                    uint8_t c = s[t];
                    uint32_t dig = (c <= '9') ? (uint32_t)(c - '0')
                                 : (c >= 'a') ? (uint32_t)(c - 'a' + 10)
                                              : (uint32_t)(c - 'A' + 10);
                    if (num > 0x10FFFF) { overflow = 1; break; }
                    num = num * (hex ? 16u : 10u) + dig;
                }
                if (k < b && s[k] == ';') k++;
                if (!emit_numeric(out, num, overflow)) return 0;
                i = k;
                continue;
            }
            /* "&#" with no digits: no charref match — literal '&' */
            if (!buf_push1(out, '&')) return 0;
            i++;
            continue;
        }
        /* named: up to 32 CODEPOINTS of the class, then optional ';' */
        size_t k = j, cps = 0, ascii_bytes = 0;
        int all_ascii_so_far = 1;
        while (k < b && cps < 32) {
            int len; uint32_t cp = u8_cp(s, k, &len);
            if (!charref_name_cp(cp)) break;
            k += len; cps++;
            if (all_ascii_so_far) {
                if (len == 1) ascii_bytes++;
                else all_ascii_so_far = 0;
            }
        }
        if (cps == 0) {
            if (!buf_push1(out, '&')) return 0;
            i++;
            continue;
        }
        int semi = (k < b && s[k] == ';');
        size_t span_end = semi ? k + 1 : k;   /* group(1) = s[j:span_end] */
        size_t glen = span_end - j;
        const Ent *e = NULL;
        size_t matched_bytes = 0;
        /* exact match (keys are pure ASCII) */
        if (ascii_bytes + (semi ? 1u : 0u) == glen && glen <= 33)
            e = ent_lookup(s + j, glen);
        if (e) matched_bytes = glen;
        else {
            /* longest prefix, x from len-1 down to 2 — over codepoints,
             * but only all-ASCII prefixes can match ASCII keys, so the
             * candidate byte-lengths are min(ascii_run, ...) down to 2.
             * The optional ';' is part of group(1) only at full length,
             * so prefixes never include it. */
            size_t maxx = ascii_bytes;
            size_t limit = (semi ? glen : glen - 1);  /* x <= len(s)-1 */
            if (maxx > limit) maxx = limit;
            if (maxx > 32) maxx = 32;
            for (size_t x = maxx; x >= 2; x--) {
                e = ent_lookup(s + j, x);
                if (e) { matched_bytes = x; break; }
            }
        }
        if (e) {
            if (!buf_push(out, (const uint8_t *)e->val, e->vlen)) return 0;
            /* remainder of the matched span is copied verbatim */
            if (!buf_push(out, s + j + matched_bytes, span_end - j - matched_bytes))
                return 0;
        } else {
            if (!buf_push1(out, '&')) return 0;
            if (!buf_push(out, s + j, span_end - j)) return 0;
        }
        i = span_end;
    }
}

/* ---------------- tag classes -------------------------------------- */

static uint8_t tag_flags(const uint8_t *t, size_t tlen) {
    size_t lo = 0, hi = N_TAGS;
    while (lo < hi) {
        size_t mid = (lo + hi) / 2;
        const TagFlag *e = &TAGS[mid];
        size_t m = tlen < e->tlen ? tlen : e->tlen;
        int c = memcmp(t, e->tag, m);
        if (c == 0) c = (int)tlen - (int)e->tlen;
        if (c == 0) return e->flags;
        if (c < 0) hi = mid; else lo = mid + 1;
    }
    return 0;
}

#define F_DEPTH (F_SKIP | F_LINK | F_BOILER | F_TITLE)

/* ---------------- extractor context -------------------------------- */

typedef struct { size_t off, len; } Span;

typedef struct {
    Buf raw, title, blockbuf, strtab, scratch, stack_bytes;
    Span *stack; size_t stack_len, stack_cap;
    BlockRec *blocks; size_t n_blocks, blocks_cap;
    int skip_depth, link_depth, boiler_depth, title_depth;
    int64_t link_cp;          /* buf_link_chars */
    int oom;
} Ctx;

/* cp-length of " ".join(chunk.split()) */
static int64_t norm_cp_len(const uint8_t *s, size_t n) {
    int64_t total = 0, words = 0;
    size_t i = 0;
    int in_word = 0;
    int64_t cur = 0;
    while (i < n) {
        int len; uint32_t cp = u8_cp(s, i, &len);
        if (is_pyspace(cp)) {
            if (in_word) { words++; total += cur; cur = 0; in_word = 0; }
        } else { in_word = 1; cur++; }
        i += len;
    }
    if (in_word) { words++; total += cur; }
    if (words == 0) return 0;
    return total + (words - 1);
}

static int push_tag(Ctx *c, const uint8_t *name, size_t nlen) {
    if (c->stack_len == c->stack_cap) {
        size_t cap = c->stack_cap ? c->stack_cap * 2 : 16;
        Span *np = realloc(c->stack, cap * sizeof(Span));
        if (!np) return 0;
        c->stack = np; c->stack_cap = cap;
    }
    Span sp = { c->stack_bytes.len, nlen };
    /* names are ASCII (bail otherwise): lower while copying */
    if (!buf_reserve(&c->stack_bytes, nlen)) return 0;
    for (size_t i = 0; i < nlen; i++) {
        uint8_t ch = name[i];
        if (ch >= 'A' && ch <= 'Z') ch += 32;
        c->stack_bytes.p[c->stack_bytes.len + i] = ch;
    }
    c->stack_bytes.len += nlen;
    c->stack[c->stack_len++] = sp;
    return 1;
}

/* flush the current block buffer into a BlockRec (or nothing). */
static int flush_block(Ctx *c) {
    if (c->blockbuf.len) {
        size_t text_off = c->strtab.len;
        int64_t n_chars = 0, n_words = 0;
        /* normalize: words joined by single spaces */
        {
            const uint8_t *s = c->blockbuf.p;
            size_t n = c->blockbuf.len, i = 0;
            int in_word = 0;
            while (i < n) {
                int len; uint32_t cp = u8_cp(s, i, &len);
                if (is_pyspace(cp)) { in_word = 0; }
                else {
                    if (!in_word && n_words > 0) {
                        if (!buf_push1(&c->strtab, ' ')) return 0;
                        n_chars++;
                    }
                    if (!in_word) n_words++;
                    in_word = 1;
                    if (!buf_push(&c->strtab, s + i, len)) return 0;
                    n_chars++;
                }
                i += len;
            }
        }
        if (n_words > 0) {
            size_t text_len = c->strtab.len - text_off;
            size_t path_off = c->strtab.len;
            if (c->stack_len == 0) {
                if (!buf_push(&c->strtab, (const uint8_t *)"html", 4)) return 0;
            } else {
                for (size_t k = 0; k < c->stack_len; k++) {
                    if (k && !buf_push1(&c->strtab, '/')) return 0;
                    Span sp = c->stack[k];
                    if (!buf_push(&c->strtab, c->stack_bytes.p + sp.off, sp.len))
                        return 0;
                }
            }
            size_t path_len = c->strtab.len - path_off;
            if (c->n_blocks == c->blocks_cap) {
                size_t cap = c->blocks_cap ? c->blocks_cap * 2 : 16;
                BlockRec *nb = realloc(c->blocks, cap * sizeof(BlockRec));
                if (!nb) return 0;
                c->blocks = nb; c->blocks_cap = cap;
            }
            BlockRec *r = &c->blocks[c->n_blocks++];
            r->text_off = text_off; r->text_len = text_len;
            r->path_off = path_off; r->path_len = path_len;
            r->n_chars = (int32_t)n_chars;
            r->n_words = (int32_t)n_words;
            int64_t lc = c->link_cp < n_chars ? c->link_cp : n_chars;
            r->link_chars = (int32_t)lc;
            r->boiler = c->boiler_depth > 0;
        } else {
            c->strtab.len = text_off;   /* nothing emitted */
        }
        c->blockbuf.len = 0;
    }
    c->link_cp = 0;
    return 1;
}

/* one data event: unescape (if asked) + route to raw/title/blockbuf */
static int emit_chunk(Ctx *c, const uint8_t *s, size_t a, size_t b,
                      int unesc) {
    if (c->skip_depth || a >= b) return 1;
    const uint8_t *p; size_t n;
    if (unesc && memchr(s + a, '&', b - a)) {
        c->scratch.len = 0;
        if (!append_unescaped(&c->scratch, s, a, b)) return 0;
        p = c->scratch.p; n = c->scratch.len;
    } else { p = s + a; n = b - a; }
    if (!buf_push(&c->raw, p, n)) return 0;
    if (c->title_depth) return buf_push(&c->title, p, n);
    if (!buf_push(&c->blockbuf, p, n)) return 0;
    if (c->link_depth) c->link_cp += norm_cp_len(p, n);
    return 1;
}

/* start-tag event (tag already lowered? no: raw span, ASCII) */
static int on_start(Ctx *c, const uint8_t *name, size_t nlen,
                    int *cdata /* 0 none, 1 script, 2 style */) {
    uint8_t low[16];
    size_t ll = nlen < 16 ? nlen : 16;
    for (size_t i = 0; i < ll; i++) {
        uint8_t ch = name[i];
        low[i] = (ch >= 'A' && ch <= 'Z') ? ch + 32 : ch;
    }
    uint8_t f = nlen <= 16 ? tag_flags(low, nlen) : 0;
    if (f & F_BLOCK) { if (!flush_block(c)) return 0; }
    if (!(f & F_VOID)) {
        if (!push_tag(c, name, nlen)) return 0;
        if (f & F_DEPTH) {
            if (f & F_SKIP) c->skip_depth++;
            if (f & F_LINK) c->link_depth++;
            if (f & F_BOILER) c->boiler_depth++;
            if (f & F_TITLE) c->title_depth++;
        }
    }
    if (nlen == 6 && memcmp(low, "script", 6) == 0) *cdata = 1;
    else if (nlen == 5 && memcmp(low, "style", 5) == 0) *cdata = 2;
    return 1;
}

static int on_end(Ctx *c, const uint8_t *name, size_t nlen) {
    uint8_t low[16];
    size_t ll = nlen < 16 ? nlen : 16;
    for (size_t i = 0; i < ll; i++) {
        uint8_t ch = name[i];
        low[i] = (ch >= 'A' && ch <= 'Z') ? ch + 32 : ch;
    }
    uint8_t f = nlen <= 16 ? tag_flags(low, nlen) : 0;
    if (f & F_VOID) return 1;
    if (f & F_BLOCK) { if (!flush_block(c)) return 0; }
    /* `tag in stack` then pop-until-match (misnesting tolerant) */
    size_t found = SIZE_MAX;
    for (size_t k = c->stack_len; k-- > 0;) {
        Span sp = c->stack[k];
        if (sp.len == nlen
            && memcmp(c->stack_bytes.p + sp.off,
                      nlen <= 16 ? (const uint8_t *)low : name, nlen) == 0) {
            found = k; break;
        }
    }
    if (found == SIZE_MAX) return 1;
    while (c->stack_len > found) {
        c->stack_len--;
        Span sp = c->stack[c->stack_len];
        uint8_t pf = tag_flags(c->stack_bytes.p + sp.off, sp.len);
        if (pf & F_DEPTH) {
            if (pf & F_SKIP) c->skip_depth--;
            if (pf & F_LINK) c->link_depth--;
            if (pf & F_BOILER) c->boiler_depth--;
            if (pf & F_TITLE) c->title_depth--;
        }
        c->stack_bytes.len = sp.off;
    }
    return 1;
}

static int on_startend(Ctx *c, const uint8_t *name, size_t nlen) {
    uint8_t low[16];
    size_t ll = nlen < 16 ? nlen : 16;
    for (size_t i = 0; i < ll; i++) {
        uint8_t ch = name[i];
        low[i] = (ch >= 'A' && ch <= 'Z') ? ch + 32 : ch;
    }
    uint8_t f = nlen <= 16 ? tag_flags(low, nlen) : 0;
    if (f & F_BLOCK) return flush_block(c);
    return 1;
}

/* _exact_starttag_kind: 0 start, 1 startend, 2 data.
 * name span returned via na/nb; *nonascii set for name bytes. */
static int exact_kind(const uint8_t *s, size_t n, size_t i, size_t endpos,
                      size_t *na, size_t *nb, int *nonascii) {
    size_t name_end = scan_tag_name(s, n, i + 1, nonascii);
    *na = i + 1; *nb = name_end;
    size_t k = gap_ws_slash(s, n, name_end);   /* tagfind's own gap */
    while (k < endpos) {
        size_t e = attrfind_match(s, n, k);
        if (e == SIZE_MAX) break;
        k = e;
    }
    /* end = s[k:endpos].strip() */
    size_t a = k < endpos ? k : endpos, b = endpos;
    a = skip_sp(s, b, a);
    while (b > a) {
        uint32_t cp;
        if (s[b-1] < 0x80) cp = s[b-1];
        else cp = u8_prev_cp(s, b);
        if (!is_pyspace(cp)) break;
        size_t j2 = b - 1;
        while (j2 > a && (s[j2] & 0xC0) == 0x80) j2--;
        b = j2;
    }
    if (b - a == 1 && s[a] == '>') return 0;
    if (b - a == 2 && s[a] == '/' && s[a+1] == '>') return 1;
    return 2;
}

/* search for the cdata close "</\s*script|style" (re.I).
 * Returns '<' position, SIZE_MAX if none, or sets *bail when a
 * non-ASCII cp could case-fold into the name. */
static size_t cdata_find(const uint8_t *s, size_t n, size_t i, int which,
                         int *bail) {
    static const char *names[] = {"script", "style"};
    const char *nm = names[which - 1];
    size_t nmlen = which == 1 ? 6 : 5;
    size_t k = i;
    for (;;) {
        const uint8_t *lt = memchr(s + k, '<', n - k);
        if (!lt) return SIZE_MAX;
        size_t p = (size_t)(lt - s);
        if (p + 1 < n && s[p+1] == '/') {
            size_t q = skip_sp(s, n, p + 2);
            size_t m = 0;
            for (; m < nmlen && q < n; m++) {
                uint8_t ch = s[q];
                if (ch >= 0x80) { *bail = 1; return SIZE_MAX; }
                uint8_t lo = (ch >= 'A' && ch <= 'Z') ? ch + 32 : ch;
                if (lo != (uint8_t)nm[m]) break;
                q++;
            }
            if (m == nmlen) return p;
        }
        k = p + 1;
    }
}

/* ---------------- main entry --------------------------------------- */

static void ctx_free(Ctx *c) {
    free(c->raw.p); free(c->title.p); free(c->blockbuf.p);
    free(c->strtab.p); free(c->scratch.p); free(c->stack_bytes.p);
    free(c->stack); free(c->blocks);
}

Result *cscan_extract(const char *input, int64_t input_len) {
    const uint8_t *s = (const uint8_t *)input;
    size_t n = (size_t)input_len;
    Result *res = calloc(1, sizeof(Result));
    if (!res) return NULL;
    Ctx c; memset(&c, 0, sizeof(c));
    int cdata = 0;      /* 0 none, 1 script, 2 style */
    size_t i = 0;
    int bail = 0;

#define OOM_CHECK(x) do { if (!(x)) { bail = 1; goto done; } } while (0)

    while (i < n) {
        /* ---- text run up to the next markup boundary ---- */
        size_t chunk_a = 0, chunk_b = 0;  /* pending data event */
        int have_chunk = 0, unesc = 1;
        size_t stag_a = 0, stag_b = 0; int have_stag = 0;
        size_t etag_a = 0, etag_b = 0; int have_etag = 0;

        if (cdata == 0) {
            const uint8_t *lt = memchr(s + i, '<', n - i);
            size_t j = lt ? (size_t)(lt - s) : n;
            if (i < j) {
                OOM_CHECK(emit_chunk(&c, s, i, j, 1));
                i = j;
            }
            if (i >= n) break;
        } else {
            int cb = 0;
            size_t j = cdata_find(s, n, i, cdata, &cb);
            if (cb) { bail = 1; goto done; }
            if (j == SIZE_MAX) break;   /* unterminated: drop tail */
            if (i < j) OOM_CHECK(emit_chunk(&c, s, i, j, 0));
            i = j;
        }

        /* ---- dispatch at '<' ---- */
        uint8_t ch = i + 1 < n ? s[i+1] : 0;
        int has_next = i + 1 < n;
        if (has_next && ((ch >= 'a' && ch <= 'z') || (ch >= 'A' && ch <= 'Z'))) {
            int nonascii = 0;
            size_t j = startag_end(s, n, i, &nonascii);
            uint8_t nxt = j < n ? s[j] : 0;
            int has_nxt = j < n;
            if (has_nxt && nxt == '>') {
                if (s[j-1] == '/') {
                    size_t na, nb; int na2 = 0;
                    int kind = exact_kind(s, n, i, j + 1, &na, &nb, &na2);
                    if (na2) { bail = 1; goto done; }
                    if (kind == 0) { have_stag = 1; stag_a = na; stag_b = nb; }
                    else if (kind == 1) {
                        OOM_CHECK(on_startend(&c, s + na, nb - na));
                    } else {
                        have_chunk = 1; chunk_a = i; chunk_b = j + 1; unesc = 0;
                    }
                    i = j + 1;
                } else {
                    if (nonascii) { bail = 1; goto done; }
                    size_t ne = scan_tag_name(s, n, i + 1, &nonascii);
                    have_stag = 1; stag_a = i + 1; stag_b = ne;
                    i = j + 1;
                }
            } else if (has_nxt && nxt == '/') {
                if (j + 1 < n && s[j+1] == '>') {
                    size_t na, nb; int na2 = 0;
                    int kind = exact_kind(s, n, i, j + 2, &na, &nb, &na2);
                    if (na2) { bail = 1; goto done; }
                    if (kind == 0) { have_stag = 1; stag_a = na; stag_b = nb; }
                    else if (kind == 1) {
                        OOM_CHECK(on_startend(&c, s + na, nb - na));
                    } else {
                        have_chunk = 1; chunk_a = i; chunk_b = j + 2; unesc = 0;
                    }
                    i = j + 2;
                } else {
                    size_t k = eof_span(s, n, i);
                    have_chunk = 1; chunk_a = i; chunk_b = k;
                    unesc = (cdata == 0);
                    i = k;
                }
            } else if (!has_nxt
                       || (nxt >= 'a' && nxt <= 'z')
                       || (nxt >= 'A' && nxt <= 'Z')
                       || nxt == '=' || nxt == '/') {
                /* _INCOMPLETE_NEXT (or EOF) */
                size_t k = eof_span(s, n, i);
                have_chunk = 1; chunk_a = i; chunk_b = k;
                unesc = (cdata == 0);
                i = k;
            } else {
                size_t endpos = j > i ? j : i + 1;
                have_chunk = 1; chunk_a = i; chunk_b = endpos; unesc = 0;
                i = endpos;
            }
        } else if (has_next && ch == '/') {
            size_t na, nb;
            size_t me = endtag_match(s, n, i, &na, &nb);
            if (me != SIZE_MAX) {
                /* elem vs cdata name (both ASCII) */
                int same = 0;
                if (cdata) {
                    const char *nm = cdata == 1 ? "script" : "style";
                    size_t nmlen = cdata == 1 ? 6 : 5;
                    if (nb - na == nmlen) {
                        same = 1;
                        for (size_t t = 0; t < nmlen; t++) {
                            uint8_t cc = s[na + t];
                            if (cc >= 'A' && cc <= 'Z') cc += 32;
                            if (cc != (uint8_t)nm[t]) { same = 0; break; }
                        }
                    }
                }
                if (cdata && !same) {
                    have_chunk = 1; chunk_a = i; chunk_b = me; unesc = 0;
                } else {
                    have_etag = 1; etag_a = na; etag_b = nb;
                    cdata = 0;
                }
                i = me;
            } else {
                const uint8_t *gtp = i + 1 < n
                    ? memchr(s + i + 1, '>', n - i - 1) : NULL;
                if (!gtp) {
                    size_t k = eof_span(s, n, i);
                    have_chunk = 1; chunk_a = i; chunk_b = k;
                    unesc = (cdata == 0);
                    i = k;
                } else if (cdata) {
                    size_t gt = (size_t)(gtp - s);
                    have_chunk = 1; chunk_a = i; chunk_b = gt + 1; unesc = 0;
                    i = gt + 1;
                } else {
                    size_t gt = (size_t)(gtp - s);
                    uint8_t c2 = i + 2 < n ? s[i+2] : 0;
                    if (i + 2 < n
                        && ((c2 >= 'a' && c2 <= 'z') || (c2 >= 'A' && c2 <= 'Z'))) {
                        int nonascii = 0;
                        size_t ne = scan_tag_name(s, n, i + 2, &nonascii);
                        if (nonascii) { bail = 1; goto done; }
                        have_etag = 1; etag_a = i + 2; etag_b = ne;
                        size_t ge = gap_ws_slash(s, n, ne); /* tagfind gap */
                        const uint8_t *g2 = memchr(s + ge, '>', n - ge);
                        i = (size_t)(g2 - s) + 1;   /* g2 != NULL: gt exists */
                    } else if (i + 2 < n && c2 == '>') {
                        i += 3;                      /* "</>" */
                    } else {
                        i = gt + 1;                  /* bogus comment */
                    }
                }
            }
        } else if (has_next && ch == '!') {
            goto bang;
        } else if (has_next && ch == '?') {
            const uint8_t *gtp = i + 2 <= n && n - i - 2 > 0
                ? memchr(s + i + 2, '>', n - i - 2) : NULL;
            if (gtp) i = (size_t)(gtp - s) + 1;
            else {
                size_t k = eof_span(s, n, i);
                have_chunk = 1; chunk_a = i; chunk_b = k;
                unesc = (cdata == 0);
                i = k;
            }
        } else {
            /* lone '<' (incl. EOF and non-ASCII next) */
            have_chunk = 1; chunk_a = i; chunk_b = i + 1; unesc = 0;
            i = i + 1;
        }
        goto events;

    bang:
        if (i + 3 < n && s[i+2] == '-' && s[i+3] == '-') {
            /* "<!--": comment closes at commentclose = "--\s*>" */
            size_t k = i + 4, close = SIZE_MAX;
            while (k + 1 < n) {
                if (s[k] == '-' && s[k+1] == '-') {
                    size_t p = skip_sp(s, n, k + 2);
                    if (p < n && s[p] == '>') { close = p + 1; break; }
                }
                k++;
            }
            if (close != SIZE_MAX) i = close;
            else {
                size_t k2 = eof_span(s, n, i);
                have_chunk = 1; chunk_a = i; chunk_b = k2;
                unesc = (cdata == 0);
                i = k2;
            }
        } else if (i + 2 < n && s[i+2] == '[') {
            bail = 1; goto done;           /* marked section */
        } else if (n - i >= 9) {
            uint8_t low9[9];
            int isdoc = 1;
            for (int t = 0; t < 9; t++) {
                uint8_t cc = s[i + t];
                low9[t] = (cc >= 'A' && cc <= 'Z') ? cc + 32 : cc;
            }
            if (memcmp(low9, "<!doctype", 9) != 0) isdoc = 0;
            const uint8_t *gtp;
            if (isdoc)
                gtp = memchr(s + i + 9, '>', n - i - 9);
            else
                gtp = memchr(s + i + 2, '>', n - i - 2);
            if (gtp) i = (size_t)(gtp - s) + 1;
            else {
                size_t k = eof_span(s, n, i);
                have_chunk = 1; chunk_a = i; chunk_b = k;
                unesc = (cdata == 0);
                i = k;
            }
        } else {
            const uint8_t *gtp = n > i + 2
                ? memchr(s + i + 2, '>', n - i - 2) : NULL;
            if (gtp) i = (size_t)(gtp - s) + 1;
            else {
                size_t k = eof_span(s, n, i);
                have_chunk = 1; chunk_a = i; chunk_b = k;
                unesc = (cdata == 0);
                i = k;
            }
        }

    events:
        if (have_stag) {
            int cd = 0;
            OOM_CHECK(on_start(&c, s + stag_a, stag_b - stag_a, &cd));
            if (cd) cdata = cd;
        } else if (have_etag) {
            OOM_CHECK(on_end(&c, s + etag_a, etag_b - etag_a));
        } else if (have_chunk) {
            OOM_CHECK(emit_chunk(&c, s, chunk_a, chunk_b, unesc));
        }
    }

    OOM_CHECK(flush_block(&c));

done:
    if (bail || c.oom) {
        ctx_free(&c);
        res->bail = 1;
        return res;
    }
    res->bail = 0;
    res->n_blocks = (int32_t)c.n_blocks;
    res->raw_len = (int64_t)c.raw.len;
    res->title_len = (int64_t)c.title.len;
    res->strtab_len = (int64_t)c.strtab.len;
    res->raw = (char *)c.raw.p;       c.raw.p = NULL;
    res->title = (char *)c.title.p;   c.title.p = NULL;
    res->strtab = (char *)c.strtab.p; c.strtab.p = NULL;
    res->blocks = c.blocks;           c.blocks = NULL;
    ctx_free(&c);
    return res;
}

void cscan_free(Result *r) {
    if (!r) return;
    free(r->raw); free(r->title); free(r->strtab); free(r->blocks);
    free(r);
}
