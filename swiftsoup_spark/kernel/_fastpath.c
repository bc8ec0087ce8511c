/* Fast-path streaming HTML -> text extractor (CPython extension).
 *
 * Single pass over the UTF-8 bytes of a document, mirroring the exact
 * text() semantics of the pure-Python kernel (kernel/tokenizer.py,
 * kernel/treebuilder.py, kernel/arena.py node_text) for the common
 * subset of HTML: it maintains the open-element stack and the active
 * formatting list exactly like the tree builder, and BAILS OUT
 * (returns None -> caller falls back to the Python kernel) on any
 * construct that can move text nodes out of source order or change
 * preserve-whitespace ancestry in ways this pass does not model:
 * frameset, plaintext, real adoption-agency runs (formatting end tag
 * with a special element above it on the stack), Noah's-ark
 * evictions, NUL bytes, and pathological depth.  Tables (including
 * FOSTER PARENTING: non-table content re-homed before the table) and
 * select are modeled natively; fostering under an active #id scope
 * falls back (offset bookkeeping not worth the rarity).
 *
 * The contract is byte-identity with Arena.node_text(0) +
 * first-title capture of the Python kernel on every accepted
 * document (enforced by tests/test_fastpath.py differential tests).
 *
 * Reference semantics mirrored (for parity spot-checks):
 *   /root/reference/Sources/Tokeniser.swift:378-400 (Data fast loop)
 *   /root/reference/Sources/HtmlTreeBuilderState.swift (InBody rules)
 *   /root/reference/Sources/Element.swift:1705-1875 (text())
 *   /root/reference/Sources/StringUtil.swift:465-580 (ws normalize)
 */
#define PY_SSIZE_T_CLEAN
#include <Python.h>
#include <stddef.h>
#include <string.h>
#include <stdint.h>

/* ---- flag bits: MUST match kernel/fastpath.py ---- */
#define F_BLOCK      (1u<<0)
#define F_PRESERVE   (1u<<1)
#define F_VOID       (1u<<2)
#define F_SPECIAL    (1u<<3)
#define F_BAIL       (1u<<4)
#define F_PCLOSER    (1u<<5)
#define F_HEADING    (1u<<6)
#define F_DDDT       (1u<<7)
#define F_FORMATTER  (1u<<8)
#define F_APPLET     (1u<<9)
#define F_EMPTYFMT   (1u<<10)
#define F_MEDIA      (1u<<11)
#define F_TOHEAD     (1u<<12)
#define F_ENDCLOSER  (1u<<13)
#define F_SCOPEBASE  (1u<<14)
#define F_IMPLIED    (1u<<15)
#define F_LIBREAK    (1u<<16)
#define F_DROP       (1u<<17)
#define F_LISTEXTRA  (1u<<18)
#define F_AHTOHEAD   (1u<<19)  /* after-head re-enter-head set */
#define F_FORMLISTED (1u<<20) /* FormElement-tracked control tags */

#define MAXSTACK 256
#define MAXFMT   64
#define MAXUNK   64
#define MAXTAGLEN 63
#define UNK_BASE 4096
#define MAXTBL   16    /* open-table nesting for foster bookkeeping */

/* segment-head join state (see seg_note / fz_end) */
enum { SJ_NONE = 0, SJ_SPACE, SJ_SUPP, SJ_RAW };

/* ---- global registry (built once by init_tables) ---- */
typedef struct { const char *name; int len; int id; } TagSlot;

static TagSlot  g_tags[2048];          /* open addressing, pow2 */
static char    *g_name_arena = NULL;
static int      g_ready = 0;
static uint32_t g_flags_by_id[UNK_BASE];
static int      g_nknown = 0;

/* entity tables */
typedef struct { const char *name; int nlen; const char *val; int vlen; } EntSlot;
static EntSlot g_semi[8192];           /* mask 8191 */
static EntSlot g_nosemi[512];          /* mask 511 */
static char   *g_ent_arena = NULL;
static int     g_max_ent_name = 32;

/* well-known tag ids, resolved at init */
static int T_table, T_caption, T_colgroup, T_col, T_tbody, T_thead,
    T_tfoot, T_tr, T_td, T_th, T_select, T_keygen;
static int T_p, T_li, T_br, T_a, T_form, T_head, T_body, T_html, T_title,
    T_textarea, T_script, T_style, T_noscript, T_noframes, T_pre, T_listing,
    T_xmp, T_iframe, T_noembed, T_button, T_option, T_optgroup, T_ruby,
    T_rp, T_rt, T_nobr, T_img, T_image, T_input, T_hr, T_dd, T_dt,
    T_base, T_basefont, T_bgsound, T_command, T_link, T_meta, T_ol, T_ul;
static int T_frameset, T_frame, T_plaintext, T_sarcasm, T_hashroot;

static uint32_t fnv1a(const uint8_t *s, Py_ssize_t len) {
    uint32_t h = 2166136261u;
    for (Py_ssize_t i = 0; i < len; i++) { h ^= s[i]; h *= 16777619u; }
    return h;
}

static int tag_lookup(const uint8_t *name, int len) {
    uint32_t h = fnv1a(name, len) & 2047;
    while (g_tags[h].name) {
        if (g_tags[h].len == len && memcmp(g_tags[h].name, name, len) == 0)
            return g_tags[h].id;
        h = (h + 1) & 2047;
    }
    return -1;
}

static uint32_t tflags(int id) {
    return (id >= 0 && id < UNK_BASE) ? g_flags_by_id[id] : 0;
}

static const char *ent_lookup(EntSlot *tab, int mask, const uint8_t *n,
                              int len, int *vlen) {
    uint32_t h = fnv1a(n, len) & mask;
    while (tab[h].name) {
        if (tab[h].nlen == len && memcmp(tab[h].name, n, len) == 0) {
            *vlen = tab[h].vlen;
            return tab[h].val;
        }
        h = (h + 1) & mask;
    }
    return NULL;
}

/* ---- per-document parse state ---- */
typedef struct {
    const uint8_t *s; Py_ssize_t n, pos;
    uint8_t *out; Py_ssize_t olen;
    int32_t st_tag[MAXSTACK]; uint32_t st_ser[MAXSTACK];
    int32_t st_ptag[MAXSTACK];   /* tag of TREE parent at insert */
    int sp;
    int32_t f_tag[MAXFMT]; uint32_t f_ser[MAXFMT]; uint8_t f_mark[MAXFMT];
    uint8_t f_attr[MAXFMT];
    uint32_t f_ahash[MAXFMT];      /* raw attr-span hash (Noah's ark) */
    uint32_t cur_ahash;            /* current token's attr-span hash */
    int fp;
    uint32_t serial;
    int mode;
    int have_html, have_form, head_present;
    uint32_t head_ser, form_ser;
    Py_ssize_t title_a, title_b; int title_set; /* raw rcdata span */
    int bail;
    int pending_end;   /* queued synthetic end tag (-1 none) */
    /* #id scope extraction (css_scope fast path) */
    const uint8_t *scope_id; int scope_id_len;   /* NULL = whole doc */
    int scope_done, scope_active;
    uint32_t scope_ser;
    Py_ssize_t scope_a, scope_b;
    Py_ssize_t base_olen;          /* accumulator barrier at scope entry */
    Py_ssize_t pid_a, pid_b;       /* current token's id-attr value span */
    int pid_valid;
    /* table machinery */
    int quirks;                    /* 1 = force-quirks doctype seen */
    int seen_content, seen_doctype;
    int orig_mode;                 /* mode to restore after table text */
    Py_ssize_t pend_tx[32][2];     /* pending table-text spans */
    uint8_t pend_decode[32];
    int n_pend;
    /* foster parenting: per-open-table "foster zone" bookkeeping.
     * tb_fpt[k] = out offset where content fostered before table k
     * inserts (the zone END; the table's own emitted segment follows).
     * Emission is redirected there by fz_begin/fz_end (memmove of the
     * segment tail per rare foster event). */
    Py_ssize_t tb_fpt[MAXTBL];
    int tb_spidx[MAXTBL];          /* stack index of the table */
    uint32_t tb_ser[MAXTBL];       /* its serial (lazy tb_sync checks) */
    uint8_t tb_sj[MAXTBL];         /* segment-head join state (SJ_*) */
    int n_tbl;
    int foster_arm;                /* _in_table_anything_else armed */
    Py_ssize_t foster_copied;      /* fz tail bytes copied (quad guard) */
    int fz_brk;                    /* inside a foster-redirect bracket */
    Py_ssize_t fz_sav_fpt, fz_taillen;
    uint8_t st_fz[MAXSTACK];       /* stack entry lives in a foster zone */
    Py_ssize_t st_oout[MAXSTACK];  /* olen at push (AAA join check) */
    char unk_names[MAXUNK][MAXTAGLEN + 1];      /* doc-local interning */
    int unk_len[MAXUNK]; int n_unk;
    /* fields below unk_names are NOT zeroed per-doc by batch_extract */
    uint8_t *scratch;              /* fz tail save (persists across docs) */
    Py_ssize_t scratch_cap;
    Py_ssize_t out_cap;            /* capacity of out (set per doc) */
} P;

enum { M_PRE, M_HEAD, M_HEADNS, M_AFTERHEAD, M_BODY,
       M_TABLE, M_CAPTION, M_COLGROUP, M_TBODY, M_ROW, M_CELL,
       M_SELECT, M_SELECT_TB };

#define BAIL(p) do { (p)->bail = 1; return; } while (0)
#define BAILV(p, v) do { (p)->bail = 1; return (v); } while (0)

static int intern_tag(P *p, const uint8_t *name, int len) {
    int id = tag_lookup(name, len);
    if (id >= 0) return id;
    for (int i = 0; i < p->n_unk; i++)
        if (p->unk_len[i] == len && memcmp(p->unk_names[i], name, len) == 0)
            return UNK_BASE + i;
    if (p->n_unk >= MAXUNK || len > MAXTAGLEN) { p->bail = 1; return -1; }
    memcpy(p->unk_names[p->n_unk], name, len);
    p->unk_len[p->n_unk] = len;
    return UNK_BASE + p->n_unk++;
}

/* ---- output helpers ---- */
static inline int out_nonempty(P *p) { return p->olen > p->base_olen; }
static inline int out_lastspace(P *p) {
    return p->olen > p->base_olen && p->out[p->olen - 1] == ' ';
}
static inline void putb(P *p, uint8_t c) { p->out[p->olen++] = c; }

/* ---- foster-parenting machinery ------------------------------------- */

static inline int is_tableish(int tag) {
    return tag == T_table || tag == T_tbody || tag == T_thead ||
           tag == T_tfoot || tag == T_tr;
}

/* drop foster levels whose table has left the open-element stack.
 * Mid-stack removals (form end, a-in-a remnant) shift indices, so a
 * stale index is revalidated by the table's SERIAL before dropping. */
static int on_stack_ser(P *p, uint32_t ser);   /* fwd */
static void tb_sync(P *p) {
    while (p->n_tbl > 0) {
        int k = p->n_tbl - 1, i = p->tb_spidx[k];
        if (i < p->sp && p->st_ser[i] == p->tb_ser[k] &&
            p->st_tag[i] == T_table)
            break;
        int j = on_stack_ser(p, p->tb_ser[k]);
        if (j >= 0 && p->st_tag[j] == T_table) { p->tb_spidx[k] = j; break; }
        p->n_tbl--;
    }
}

/* Record how the innermost table segment's FIRST emission related to
 * the output preceding it, so a later foster insertion between them can
 * repair the join (fz_end):
 *   SJ_SPACE - first byte is an emitted block/ws join space
 *   SJ_SUPP  - a join was suppressed (output empty / ended in space)
 *   SJ_RAW   - first byte is plain content (adjacent-text concat or
 *              preserved text): never repair
 * First decision wins; only meaningful while the segment is empty. */
static inline void seg_note(P *p, int what) {
    if (p->n_tbl == 0 || p->fz_brk) return;
    int k = p->n_tbl - 1;
    if (p->olen != p->tb_fpt[k]) return;   /* segment already has bytes */
    if (p->tb_sj[k] == SJ_NONE) p->tb_sj[k] = (uint8_t)what;
}

/* Begin emitting fostered content: stash the table segment tail and
 * rewind out to the foster insertion point, so the normal emitters see
 * the true preceding output.  Scoped (#id) extraction bails: fostering
 * shifts stored out-offsets and the combination is rare. */
static void fz_begin(P *p) {
    if (p->fz_brk) { p->bail = 1; return; }   /* nesting is a caller bug */
    if (p->scope_id) { p->bail = 1; return; }
    int k = p->n_tbl - 1;
    Py_ssize_t fpt = p->tb_fpt[k];
    Py_ssize_t tl = p->olen - fpt;
    if (!p->scratch || p->scratch_cap < p->out_cap) {
        PyMem_Free(p->scratch);
        p->scratch = PyMem_Malloc(p->out_cap > 64 ? p->out_cap : 64);
        if (!p->scratch) { p->scratch_cap = 0; p->bail = 1; return; }
        p->scratch_cap = p->out_cap > 64 ? p->out_cap : 64;
    }
    p->foster_copied += tl;
    if (p->foster_copied > (Py_ssize_t)4 << 20) { p->bail = 1; return; }
    memcpy(p->scratch, p->out + fpt, tl);
    p->fz_taillen = tl;
    p->fz_sav_fpt = fpt;
    p->olen = fpt;
    p->fz_brk = 1;
}

/* End the bracket: re-append the segment tail after the fostered
 * content and repair the join at the new boundary. */
static void fz_end(P *p) {
    if (!p->fz_brk) return;
    p->fz_brk = 0;
    if (p->bail) return;
    int k = p->n_tbl - 1;
    Py_ssize_t fpt = p->fz_sav_fpt;
    Py_ssize_t tl = p->fz_taillen;
    Py_ssize_t grew = p->olen - fpt;
    const uint8_t *tail = p->scratch;
    p->tb_fpt[k] = p->olen;            /* zone grew by `grew` */
    if (grew > 0) {
        int end_sp = p->out[p->olen - 1] == ' ';
        if (p->tb_sj[k] == SJ_SPACE && end_sp) {
            tail++; tl--;              /* collapse now-redundant join */
            p->tb_sj[k] = SJ_SUPP;     /* it is latent again */
        } else if (p->tb_sj[k] == SJ_SUPP && !end_sp) {
            /* materialize the suppressed join (segment head); with an
             * empty segment this is the table's own entry join, which
             * tree-order places AFTER the fostered content */
            putb(p, ' ');
            p->tb_sj[k] = SJ_SPACE;
        }
    }
    memcpy(p->out + p->olen, tail, tl);
    p->olen += tl;
}

/* Open a redirect bracket iff the CURRENT emission targets the foster
 * zone: the stack top is itself fostered, or foster-inserts are armed
 * (_in_table_anything_else / fostered table text) with a table-ish
 * insert parent.  Mirrors python _insert_node's per-insert decision.
 * Returns 1 if a bracket was opened (caller must fz_end). */
static int fz_enter(P *p) {
    if (p->fz_brk) return 0;           /* already redirected */
    int zone = (p->sp > 0 && p->st_fz[p->sp - 1]) ||
               (p->foster_arm && is_tableish(p->sp > 0 ? p->st_tag[p->sp - 1] : -1));
    if (!zone) return 0;
    tb_sync(p);
    if (!p->n_tbl) { p->bail = 1; return 0; }
    fz_begin(p);
    return !p->bail;
}

/* entity decode: s[i] is the char after '&'. Writes decoded UTF-8 to
 * dst (cap 16), sets *adv = source chars consumed after the '&'.
 * Returns decoded length, or 0 if not a reference.
 * Mirrors entities.py _match_ref with in_attribute=False. */
static int decode_entity_ex(const uint8_t *s, Py_ssize_t i, Py_ssize_t n,
                            uint8_t dst[16], Py_ssize_t *adv,
                            int in_attr) {
    if (i >= n) return 0;
    if (s[i] == '#') {
        Py_ssize_t j = i + 1;
        long cp = 0; int any = 0;
        if (j < n && (s[j] == 'x' || s[j] == 'X')) {
            j++;
            while (j < n) {
                uint8_t c = s[j]; int d;
                if (c >= '0' && c <= '9') d = c - '0';
                else if (c >= 'a' && c <= 'f') d = c - 'a' + 10;
                else if (c >= 'A' && c <= 'F') d = c - 'A' + 10;
                else break;
                if (cp < 0x200000) cp = cp * 16 + d;
                any = 1; j++;
            }
            if (!any) return 0;   /* '&#x' with no digits: not a ref */
        } else {
            while (j < n && s[j] >= '0' && s[j] <= '9') {
                if (cp < 0x200000) cp = cp * 10 + (s[j] - '0');
                any = 1; j++;
            }
            if (!any) return 0;
        }
        if (j < n && s[j] == ';') j++;
        *adv = j - i;
        static const int w1252[32] = {
            0x20AC,0x81,0x201A,0x0192,0x201E,0x2026,0x2020,0x2021,
            0x02C6,0x2030,0x0160,0x2039,0x0152,0x8D,0x017D,0x8F,
            0x90,0x2018,0x2019,0x201C,0x201D,0x2022,0x2013,0x2014,
            0x02DC,0x2122,0x0161,0x203A,0x0153,0x9D,0x017E,0x0178};
        if (cp >= 0x80 && cp <= 0x9F) cp = w1252[cp - 0x80];
        if (cp == 0 || cp > 0x10FFFF || (cp >= 0xD800 && cp <= 0xDFFF))
            cp = 0xFFFD;
        int k = 0;
        if (cp < 0x80) dst[k++] = (uint8_t)cp;
        else if (cp < 0x800) {
            dst[k++] = 0xC0 | (cp >> 6); dst[k++] = 0x80 | (cp & 0x3F);
        } else if (cp < 0x10000) {
            dst[k++] = 0xE0 | (cp >> 12); dst[k++] = 0x80 | ((cp >> 6) & 0x3F);
            dst[k++] = 0x80 | (cp & 0x3F);
        } else {
            dst[k++] = 0xF0 | (cp >> 18); dst[k++] = 0x80 | ((cp >> 12) & 0x3F);
            dst[k++] = 0x80 | ((cp >> 6) & 0x3F); dst[k++] = 0x80 | (cp & 0x3F);
        }
        return k;
    }
    uint8_t c = s[i];
    if (!((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z'))) return 0;
    int len = 1;
    while (i + len < n && len < g_max_ent_name) {
        c = s[i + len];
        if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
            (c >= '0' && c <= '9')) len++;
        else break;
    }
    for (int ln = len; ln >= 2; ln--) {
        int vlen; const char *v;
        if (i + ln < n && s[i + ln] == ';') {
            v = ent_lookup(g_semi, 8191, s + i, ln, &vlen);
            if (v) { memcpy(dst, v, vlen); *adv = ln + 1; return vlen; }
        }
        v = ent_lookup(g_nosemi, 511, s + i, ln, &vlen);
        if (v) {
            if (in_attr && i + ln < n) {
                uint8_t nx = s[i + ln];
                /* legacy-in-attribute suppression: '&param=x' stays
                 * literal (entities.py _match_ref) */
                if (nx == '=' || (nx >= '0' && nx <= '9') ||
                    (nx >= 'a' && nx <= 'z') || (nx >= 'A' && nx <= 'Z'))
                    return 0;
            }
            memcpy(dst, v, vlen); *adv = ln; return vlen;
        }
    }
    return 0;
}

static int decode_entity(const uint8_t *s, Py_ssize_t i, Py_ssize_t n,
                         uint8_t dst[16], Py_ssize_t *adv) {
    return decode_entity_ex(s, i, n, dst, adv, 0);
}

/* byte classes for the normalizing emitter */
#define BC_PLAIN 0
#define BC_WS    1   /* \t \n \f \r ' '  (and \xa0 via C2-pair) */
#define BC_AMP   2
#define BC_C2    3
static uint8_t g_bclass[256];

/* flush a pending collapsed space per arena.node_text: a space is kept
 * unless it is leading in the run AND (output empty or ends in ' ') */
static inline void flush_pend(P *p, int *pend, int sawnon) {
    if (*pend) {
        if (sawnon || (out_nonempty(p) && !out_lastspace(p))) {
            seg_note(p, SJ_SPACE);
            putb(p, ' ');
        } else {
            seg_note(p, SJ_SUPP);
        }
        *pend = 0;
    }
}

/* Emit a normalized text run s[a,b): collapse [\t\n\f\r \xa0]+ to ' ',
 * suppress one leading space when output empty/ends-in-space.
 * decode: handle '&' references. */
static void emit_norm(P *p, Py_ssize_t a, Py_ssize_t b, int decode) {
    const uint8_t *s = p->s;
    int pend = 0, sawnon = 0;
    uint8_t dbuf[16];
    while (a < b) {
        uint8_t bc = g_bclass[s[a]];
        if (bc == BC_PLAIN ||
            (bc == BC_AMP && !decode) ||
            (bc == BC_C2 && !(a + 1 < b && s[a + 1] == 0xA0))) {
            Py_ssize_t q = a + 1;
            while (q < b) {
                uint8_t qc = g_bclass[s[q]];
                if (qc == BC_PLAIN) { q++; continue; }
                if (qc == BC_AMP && !decode) { q++; continue; }
                if (qc == BC_C2 && !(q + 1 < b && s[q + 1] == 0xA0)) {
                    q++; continue;
                }
                break;
            }
            flush_pend(p, &pend, sawnon);
            seg_note(p, SJ_RAW);
            memcpy(p->out + p->olen, s + a, q - a);
            p->olen += q - a;
            sawnon = 1;
            a = q;
        } else if (bc == BC_WS) {
            pend = 1; a++;
        } else if (bc == BC_C2) {       /* C2 A0 pair == nbsp */
            pend = 1; a += 2;
        } else {                        /* BC_AMP, decode on */
            Py_ssize_t adv = 0;
            int dl = decode_entity(s, a + 1, p->n, dbuf, &adv);
            if (dl <= 0) {
                flush_pend(p, &pend, sawnon);
                seg_note(p, SJ_RAW);
                putb(p, '&'); sawnon = 1; a++;
            } else {
                for (int k = 0; k < dl; ) {
                    uint8_t dc = dbuf[k];
                    uint8_t cls = g_bclass[dc];
                    if (cls == BC_WS) { pend = 1; k++; }
                    else if (cls == BC_C2 && k + 1 < dl && dbuf[k+1] == 0xA0) {
                        pend = 1; k += 2;
                    } else {
                        flush_pend(p, &pend, sawnon);
                        seg_note(p, SJ_RAW);
                        putb(p, dc); sawnon = 1; k++;
                    }
                }
                a += 1 + adv;
            }
        }
    }
    flush_pend(p, &pend, sawnon);
}

/* Emit a preserved run (pre/title/textarea ancestry): raw bytes, with
 * entity decode only (no whitespace collapsing). */
static void emit_preserve(P *p, Py_ssize_t a, Py_ssize_t b, int decode) {
    const uint8_t *s = p->s;
    uint8_t dbuf[16];
    while (a < b) {
        seg_note(p, SJ_RAW);
        if (decode) {
            const uint8_t *amp = memchr(s + a, '&', b - a);
            Py_ssize_t stop = amp ? (amp - s) : b;
            if (stop > a) {
                memcpy(p->out + p->olen, s + a, stop - a);
                p->olen += stop - a;
                a = stop;
            }
            if (a >= b) break;
            Py_ssize_t adv = 0;
            int dl = decode_entity(s, a + 1, p->n, dbuf, &adv);
            if (dl <= 0) { putb(p, '&'); a++; }
            else {
                memcpy(p->out + p->olen, dbuf, dl);
                p->olen += dl;
                a += 1 + adv;
            }
        } else {
            memcpy(p->out + p->olen, s + a, b - a);
            p->olen += b - a;
            a = b;
        }
    }
}

/* ---- open-element stack + active formatting list -------------------- */

static void push_el(P *p, int tag) {
    if (p->sp >= MAXSTACK) { p->bail = 1; return; }
    /* the tree parent is the insertion point (stack top before push);
       it stays valid even after mid-stack removals (form end, a-in-a)
       because no modeled construct reparents nodes */
    {
        int top = p->sp > 0 ? p->st_tag[p->sp - 1] : -1;
        int topfz = p->sp > 0 && p->st_fz[p->sp - 1];
        if (!topfz && p->foster_arm && is_tableish(top)) {
            /* directly fostered: the TREE parent is the table's parent */
            tb_sync(p);
            if (!p->n_tbl) { p->bail = 1; return; }
            p->st_ptag[p->sp] = p->st_ptag[p->tb_spidx[p->n_tbl - 1]];
            p->st_fz[p->sp] = 1;
        } else {
            p->st_ptag[p->sp] = top;
            p->st_fz[p->sp] = (uint8_t)topfz;
        }
    }
    p->st_tag[p->sp] = tag;
    p->st_ser[p->sp] = ++p->serial;
    p->st_oout[p->sp] = p->olen;
    p->sp++;
}

/* entering an element in document order: block/br single-space rule */
static inline void maybe_space(P *p, int tag) {
    if ((tflags(tag) & F_BLOCK) || tag == T_br) {
        if (out_nonempty(p) && !out_lastspace(p)) {
            seg_note(p, SJ_SPACE);
            putb(p, ' ');
        } else {
            seg_note(p, SJ_SUPP);
        }
    }
}

/* the entry join of an insert, routed to the foster zone when the
 * insert parent lives there (fz_enter) */
static void join_space(P *p, int tag) {
    if ((tflags(tag) & F_BLOCK) || tag == T_br) {
        int o = fz_enter(p);
        if (p->bail) return;
        maybe_space(p, tag);
        if (o) fz_end(p);
    }
}

/* insert an element node (join + push); returns its serial */
static uint32_t insert_el(P *p, int tag) {
    join_space(p, tag);
    push_el(p, tag);
    return p->serial;
}

static void insert_empty_el(P *p, int tag) { join_space(p, tag); }

/* does the current token carry id="<scope_id>"? (valid only between
 * handle_tag's capture and the token's own element insert) */
static inline int token_id_matches(P *p) {
    if (!p->scope_id || p->scope_done || !p->pid_valid) return 0;
    if (p->pid_b - p->pid_a != p->scope_id_len) return 0;
    if (memchr(p->s + p->pid_a, '&', p->scope_id_len)) { p->bail = 1; return 0; }
    return memcmp(p->s + p->pid_a, p->scope_id, p->scope_id_len) == 0;
}

/* token element just pushed: open the scope on it */
static inline void scope_on_push(P *p) {
    if (token_id_matches(p)) {
        p->scope_done = 1;
        p->scope_active = 1;
        p->scope_ser = p->serial;      /* the element just pushed */
        p->base_olen = p->olen;
        p->scope_a = p->olen;
    }
    p->pid_valid = 0;                  /* consumed by the token element */
}

/* token element was a void insert (no push): empty-subtree scope */
static inline void scope_on_void(P *p) {
    if (token_id_matches(p)) {
        p->scope_done = 1;
        p->scope_a = p->scope_b = p->olen;
    }
    p->pid_valid = 0;
}

/* token-origin element insert (vs synthesized/reconstructed inserts,
 * which must NOT consume the token's id attribute) */
static uint32_t insert_el_tok(P *p, int tag) {
    join_space(p, tag);
    push_el(p, tag);
    scope_on_push(p);
    return p->serial;
}

static void insert_empty_el_tok(P *p, int tag) {
    join_space(p, tag);
    scope_on_void(p);
}

static void pop_el(P *p) {
    if (p->sp <= 0) { p->bail = 1; return; }
    p->sp--;
}

static int top_tag(P *p) { return p->sp > 0 ? p->st_tag[p->sp - 1] : -1; }

/* treebuilder.pop_to_close(name): pop until name popped (or empty) */
static void pop_to_close(P *p, int tag) {
    while (p->sp > 0) {
        int t = p->st_tag[--p->sp];
        if (t == tag) return;
    }
}

static void pop_to_close_headings(P *p) {
    while (p->sp > 0) {
        int t = p->st_tag[--p->sp];
        if (tflags(t) & F_HEADING) return;
    }
}

/* generate_implied_end_tags(exclude); exclude == -1 means the reference
 * nil-exclude quirk: NO-OP (treebuilder.py generate_implied_end_tags) */
static void gen_implied(P *p, int exclude) {
    if (exclude < 0) return;
    while (p->sp > 0) {
        int t = p->st_tag[p->sp - 1];
        if (t == exclude || !(tflags(t) & F_IMPLIED)) return;
        p->sp--;
    }
}

static void remove_stack_serial(P *p, uint32_t ser) {
    /* mid-stack removal (form end, a-in-a) leaves deeper elements in
     * the removed element's TREE subtree while they leave our stack;
     * streaming can no longer delimit the scope subtree -> bail */
    if (p->scope_active && ser == p->scope_ser) { p->bail = 1; return; }
    for (int i = p->sp - 1; i >= 0; i--) {
        if (p->st_ser[i] == ser) {
            memmove(p->st_tag + i, p->st_tag + i + 1,
                    (p->sp - i - 1) * sizeof(int32_t));
            memmove(p->st_ser + i, p->st_ser + i + 1,
                    (p->sp - i - 1) * sizeof(uint32_t));
            memmove(p->st_ptag + i, p->st_ptag + i + 1,
                    (p->sp - i - 1) * sizeof(int32_t));
            memmove(p->st_fz + i, p->st_fz + i + 1,
                    (Py_ssize_t)(p->sp - i - 1));
            memmove(p->st_oout + i, p->st_oout + i + 1,
                    (p->sp - i - 1) * sizeof(Py_ssize_t));
            p->sp--;
            return;
        }
    }
}

static int on_stack_ser(P *p, uint32_t ser) {
    for (int i = p->sp - 1; i >= 0; i--)
        if (p->st_ser[i] == ser) return i;
    return -1;
}

/* treebuilder._in_scope: walk top-down (max 100), target vs barriers.
 * extra: 0 none, 1 button, 2 list (ol/ul) */
static int in_scope_x(P *p, int tag, int extra) {
    int lo = p->sp - 100; if (lo < 0) lo = 0;
    for (int i = p->sp - 1; i >= lo; i--) {
        int t = p->st_tag[i];
        if (t == tag) return 1;
        uint32_t f = tflags(t);
        if (f & F_SCOPEBASE) return 0;
        if (extra == 1 && t == T_button) return 0;
        if (extra == 2 && (f & F_LISTEXTRA)) return 0;
    }
    return 0;
}

static int in_scope(P *p, int tag) { return in_scope_x(p, tag, 0); }
static int in_button_scope(P *p, int tag) { return in_scope_x(p, tag, 1); }
static int in_list_scope(P *p, int tag) { return in_scope_x(p, tag, 2); }

/* any heading in (plain) scope */
static int headings_in_scope(P *p) {
    int lo = p->sp - 100; if (lo < 0) lo = 0;
    for (int i = p->sp - 1; i >= lo; i--) {
        uint32_t f = tflags(p->st_tag[i]);
        if (f & F_HEADING) return 1;
        if (f & F_SCOPEBASE) return 0;
    }
    return 0;
}

/* ---- active formatting list (treebuilder fmt ops) ------------------- */

static void push_marker(P *p) {
    if (p->fp >= MAXFMT) { p->bail = 1; return; }
    p->f_mark[p->fp] = 1;
    p->f_tag[p->fp] = -1;
    p->f_ser[p->fp] = 0;
    p->fp++;
}

static void remove_fmt_at(P *p, int idx) {
    memmove(p->f_tag + idx, p->f_tag + idx + 1,
            (p->fp - idx - 1) * sizeof(int32_t));
    memmove(p->f_ser + idx, p->f_ser + idx + 1,
            (p->fp - idx - 1) * sizeof(uint32_t));
    memmove(p->f_mark + idx, p->f_mark + idx + 1,
            (p->fp - idx - 1) * sizeof(uint8_t));
    memmove(p->f_attr + idx, p->f_attr + idx + 1,
            (p->fp - idx - 1) * sizeof(uint8_t));
    p->fp--;
}

/* push_fmt with Noah's-ark (treebuilder.push_fmt): Python evicts the
 * entry at which it sees the 3rd same-name-AND-same-attrs match
 * (scanning back to the last marker). We track only a has-attrs bit:
 * two no-attr elements are exactly equal; comparisons involving
 * attr-bearing elements are undecidable here -> bail only when they
 * could flip the outcome. */
static void push_fmt(P *p, int tag, uint32_t ser, int has_attrs) {
    if (p->fp >= MAXFMT) { p->bail = 1; return; }
    if (!has_attrs) {
        int seen = 0;
        for (int i = p->fp - 1; i >= 0; i--) {
            if (p->f_mark[i]) break;
            if (p->f_tag[i] == tag && !p->f_attr[i]) {
                if (++seen == 3) { remove_fmt_at(p, i); break; }
            }
        }
    } else {
        /* python compares parsed attr DICTS; identical raw spans prove
         * dict equality (legacy pages repeat byte-identical formatters
         * like <font color="#000">), differing spans prove nothing.
         * Evict exactly when the 3rd hash-equal match precedes any
         * ambiguous (hash-different) same-tag entry; bail only when an
         * eviction decision could depend on undecidable equality. */
        int he = 0, hd_before = 0, evict = -1;
        for (int i = p->fp - 1; i >= 0; i--) {
            if (p->f_mark[i]) break;
            if (p->f_tag[i] == tag && p->f_attr[i]) {
                if (p->f_ahash[i] == p->cur_ahash) {
                    if (++he == 3) { evict = i; break; }
                } else {
                    hd_before++;
                }
            }
        }
        if (evict >= 0) {
            if (hd_before) { p->bail = 1; return; }
            remove_fmt_at(p, evict);
        } else if (he + hd_before >= 3) {
            p->bail = 1;
            return;
        }
    }
    p->f_tag[p->fp] = tag;
    p->f_ser[p->fp] = ser;
    p->f_mark[p->fp] = 0;
    p->f_attr[p->fp] = (uint8_t)has_attrs;
    p->f_ahash[p->fp] = has_attrs ? p->cur_ahash : 0;
    p->fp++;
}

/* get_active_fmt: last entry before a marker with this tag; index or -1 */
static int get_active_fmt(P *p, int tag) {
    for (int i = p->fp - 1; i >= 0; i--) {
        if (p->f_mark[i]) return -1;
        if (p->f_tag[i] == tag) return i;
    }
    return -1;
}

/* (remove_fmt_at moved above push_fmt) */

static void clear_fmt_to_marker(P *p) {
    while (p->fp > 0) {
        p->fp--;
        if (p->f_mark[p->fp]) return;
    }
}

/* treebuilder.reconstruct_fmt: re-open formatting elements whose
 * entries are not on the stack. Clones are pushed as normal open
 * elements (they affect preserve-ws ancestry), entries repointed. */
static void reconstruct_fmt(P *p) {
    if (p->fp == 0) return;
    int last = p->fp - 1;
    if (p->f_mark[last] || on_stack_ser(p, p->f_ser[last]) >= 0) return;
    int pos = last, skip = 0;
    while (1) {
        if (pos == 0) { skip = 1; break; }
        pos--;
        if (p->f_mark[pos] || on_stack_ser(p, p->f_ser[pos]) >= 0) break;
    }
    while (1) {
        if (!skip) pos++;
        skip = 0;
        /* insert_elem(name): maybe_space + push (formatters are never
         * block, but mirror the generic insert for exactness) */
        uint32_t ser = insert_el(p, p->f_tag[pos]);
        if (p->bail) return;
        p->f_ser[pos] = ser;
        if (pos == last) break;
    }
}

/* ---- raw-content scanning (tokenizer _read_raw mirrors) ------------- */

static inline int is_close_delim(uint8_t c) {
    return c == '\t' || c == '\n' || c == '\f' || c == '\r' || c == ' ' ||
           c == '/' || c == '>';
}

/* tokenizer._find_close: case-insensitive "</tag" followed by delim/EOF */
static void find_close(P *p, Py_ssize_t i, const uint8_t *tag, int nlen,
                       Py_ssize_t *content_end, Py_ssize_t *close) {
    const uint8_t *s = p->s; Py_ssize_t n = p->n;
    Py_ssize_t pos = i;
    while (1) {
        const uint8_t *lt = memchr(s + pos, '<', n - pos);
        if (!lt) { *content_end = n; *close = -1; return; }
        Py_ssize_t k = lt - s;
        if (k + 1 < n && s[k + 1] == '/' && k + 2 + nlen <= n &&
            strncasecmp((const char *)s + k + 2, (const char *)tag, nlen) == 0) {
            Py_ssize_t after = k + 2 + nlen;
            if (after >= n || is_close_delim(s[after])) {
                *content_end = k; *close = k; return;
            }
        }
        pos = k + 1;
    }
}

/* tokenizer._find_breakout: '<' + ascii alpha */
static Py_ssize_t find_breakout(P *p, Py_ssize_t i) {
    const uint8_t *s = p->s; Py_ssize_t n = p->n;
    Py_ssize_t j = i;
    while (1) {
        const uint8_t *lt = memchr(s + j, '<', n - j);
        if (!lt) return -1;
        Py_ssize_t k = lt - s;
        if (k + 1 >= n) return -1;
        uint8_t c = s[k + 1];
        if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')) return k;
        j = k + 1;
    }
}

/* tokenizer._script_end: ScriptData escaped/double-escaped scanner */
static void script_end(P *p, Py_ssize_t i, Py_ssize_t *content_end,
                       Py_ssize_t *close) {
    const uint8_t *s = p->s; Py_ssize_t n = p->n;
    int state = 0; /* 0 plain, 1 escaped, 2 double-escaped */
    Py_ssize_t j = i;
    while (j < n) {
        uint8_t c = s[j];
        if (c == '<') {
            if (j + 3 < n && s[j+1] == '!' && s[j+2] == '-' && s[j+3] == '-') {
                if (state == 0) state = 1;
                j += 4; continue;
            }
            if (j + 1 < n && s[j+1] == '/' && j + 8 <= n &&
                strncasecmp((const char *)s + j + 2, "script", 6) == 0 &&
                (j + 8 >= n || is_close_delim(s[j + 8]) || s[j + 8] == '\0')) {
                /* lookahead delim or EOF (regex (?=[..]|$)) */
                if (j + 8 == n || is_close_delim(s[j + 8])) {
                    if (state == 0 || state == 1) {
                        *content_end = j; *close = j; return;
                    }
                    state = 1; j += 8; continue;
                }
            }
            if (j + 7 <= n &&
                strncasecmp((const char *)s + j + 1, "script", 6) == 0 &&
                (j + 7 == n || is_close_delim(s[j + 7]))) {
                if (state == 1) state = 2;
                j += 7; continue;
            }
            j++; continue;
        }
        if (c == '-') {
            if (j + 2 < n && s[j+1] == '-' && s[j+2] == '>') {
                if (state == 1 || state == 2) state = 0;
                j += 3; continue;
            }
            j++; continue;
        }
        /* skip to next '<' or '-' */
        {
            const uint8_t *lt = memchr(s + j, '<', n - j);
            const uint8_t *da = memchr(s + j, '-', n - j);
            if (!lt && !da) break;
            const uint8_t *m = (!lt) ? da : (!da) ? lt : (lt < da ? lt : da);
            j = m - s;
        }
    }
    *content_end = n; *close = -1;
}

/* skip the attribute section of a tag; mirrors tokenizer._attrs scan.
 * On entry j is just past the tag name. Returns next pos (past '>'),
 * sets *sc and *eof. */
static Py_ssize_t skip_attrs(P *p, Py_ssize_t j, int *sc, int *eof,
                             int *has_attrs, int capture_id) {
    const uint8_t *s = p->s; Py_ssize_t n = p->n;
    *sc = 0; *eof = 0;
    if (has_attrs) *has_attrs = 0;
    while (1) {
        while (j < n && (s[j]=='\t'||s[j]=='\n'||s[j]=='\f'||s[j]=='\r'||s[j]==' '))
            j++;
        if (j >= n) { *eof = 1; return n; }
        uint8_t c = s[j];
        if (c == '>') return j + 1;
        if (c == '/') {
            if (j + 1 < n && s[j + 1] == '>') { *sc = 1; return j + 2; }
            j++; continue;
        }
        /* attribute name ([^\t\n\f\r />=]+, '=' may lead and join) */
        if (has_attrs) *has_attrs = 1;
        Py_ssize_t na = j;
        if (c == '=') j++;
        while (j < n) {
            c = s[j];
            if (c=='\t'||c=='\n'||c=='\f'||c=='\r'||c==' '||c=='/'||c=='>'||c=='=')
                break;
            j++;
        }
        /* first id attribute wins (duplicate attrs: first declaration) */
        int is_id = capture_id && !p->pid_valid && j - na == 2 &&
                    (s[na] | 32) == 'i' && (s[na + 1] | 32) == 'd';
        while (j < n && (s[j]=='\t'||s[j]=='\n'||s[j]=='\f'||s[j]=='\r'||s[j]==' '))
            j++;
        if (j < n && s[j] == '=') {
            j++;
            while (j < n && (s[j]=='\t'||s[j]=='\n'||s[j]=='\f'||s[j]=='\r'||s[j]==' '))
                j++;
            if (j >= n) { *eof = 1; return n; }
            uint8_t q = s[j];
            if (q == '"' || q == '\'') {
                const uint8_t *k = memchr(s + j + 1, q, n - j - 1);
                if (!k) { *eof = 1; return n; }
                if (is_id) { p->pid_a = j + 1; p->pid_b = k - s; p->pid_valid = 1; }
                j = (k - s) + 1;
            } else {
                Py_ssize_t vs = j;
                while (j < n) {
                    c = s[j];
                    if (c=='\t'||c=='\n'||c=='\f'||c=='\r'||c==' '||c=='>')
                        break;
                    j++;
                }
                if (is_id) { p->pid_a = vs; p->pid_b = j; p->pid_valid = 1; }
            }
        } else if (is_id) {
            /* valueless id attr: attrs["id"] is None in the kernel ->
             * never equal to a scope id; mark as zero-len at na so a
             * non-empty scope id cannot match */
            p->pid_a = p->pid_b = na; p->pid_valid = 1;
        }
    }
}

/* consume the `</tag ...>` end tag at `close` (rcdata/rawtext close) */
static void consume_end_tag(P *p, Py_ssize_t close) {
    const uint8_t *s = p->s; Py_ssize_t n = p->n;
    Py_ssize_t j = close + 2;
    /* _TAGNAME_RE: [a-zA-Z][^\t\n\f\r />]* */
    if (j < n && ((s[j]>='a'&&s[j]<='z')||(s[j]>='A'&&s[j]<='Z'))) {
        j++;
        while (j < n) {
            uint8_t c = s[j];
            if (c=='\t'||c=='\n'||c=='\f'||c=='\r'||c==' '||c=='/'||c=='>')
                break;
            j++;
        }
    }
    int sc, eof;
    Py_ssize_t nx = skip_attrs(p, j, &sc, &eof, NULL, 0);
    p->pos = eof ? n : nx;
}

/* ---- in-body token handlers (treebuilder _in_body mirrors) ---------- */

static void dispatch_start(P *p, int tag, int sc, int has_attrs,
                           const uint8_t *name, int nlen);
static void dispatch_end(P *p, int tag);
static void handle_end_body(P *p, int tag);

/* treebuilder._any_other_end_tag */
static void any_other_end(P *p, int tag) {
    for (int i = p->sp - 1; i >= 0; i--) {
        int t = p->st_tag[i];
        if (t == tag) {
            gen_implied(p, tag);
            pop_to_close(p, tag);
            return;
        }
        if (tflags(t) & F_SPECIAL) return;
    }
}

/* treebuilder._adoption_agency, restricted: handles the no-furthest-
 * block cases exactly; BAILS on a real adoption run (special element
 * above the formatting element) because that moves nodes. */
/* is serial an active-formatting entry (whole list, markers skipped) */
static int in_fmt_ser(P *p, uint32_t ser) {
    for (int i = 0; i < p->fp; i++)
        if (!p->f_mark[i] && p->f_ser[i] == ser) return i;
    return -1;
}

/* Full adoption agency (treebuilder._adoption_agency, itself mirroring
 * reference HtmlTreeBuilderState.swift:1060-1161: 8 outer / 3 inner
 * iterations, 64-deep scan, no bookmark).  The tree moves it performs
 * preserve the DFS order of ALREADY-EMITTED text in every modeled case
 * (the furthest-block subtree moves under a clone chain at the same
 * relative position), so only stack/fmt bookkeeping and st_ptag
 * (preserve-gp) fixes are needed.  Bails when the common ancestor is
 * table-ish (last_node would FOSTER, re-homing emitted text) or on any
 * zone mismatch. */
static void aaa(P *p, int tag) {
    for (int outer = 0; outer < 8; outer++) {
        int fi = get_active_fmt(p, tag);
        if (fi < 0) { any_other_end(p, tag); return; }
        uint32_t fser = p->f_ser[fi];
        int ftag = p->f_tag[fi];
        int fhas = p->f_attr[fi];
        if (on_stack_ser(p, fser) < 0) {
            remove_fmt_at(p, fi);
            any_other_end(p, tag);
            return;
        }
        if (!in_scope(p, ftag)) return;
        int size = p->sp < 64 ? p->sp : 64;
        int seen = 0, if_idx = -1, ic_idx = -1;
        for (int si = 0; si < size; si++) {
            if (p->st_ser[si] == fser) { ic_idx = si - 1; seen = 1; }
            else if (seen && (tflags(p->st_tag[si]) & F_SPECIAL)) {
                if_idx = si; break;
            }
        }
        if (if_idx < 0) {
            pop_to_close(p, ftag);
            remove_fmt_at(p, fi);
            return;
        }
        if (ic_idx < 0) { p->bail = 1; return; }   /* fmt at stack bottom */
        int common_tag = p->st_tag[ic_idx];
        uint32_t furthest_ser = p->st_ser[if_idx];
        if (is_tableish(common_tag)) { p->bail = 1; return; }  /* fosters */
        if (p->st_fz[if_idx] != p->st_fz[ic_idx]) { p->bail = 1; return; }
        /* the adopter splice changes the preserve-ws ancestry of text
         * ALREADY emitted under the furthest block (e.g. pre's
         * grandchildren lose preserve when a clone slots in between);
         * streaming output cannot be re-normalized -> bail when an
         * affected ancestor is preserve-ish AND anything was emitted
         * since the furthest block opened (future text follows the
         * fixed-up st_ptag chain and needs no bail) */
        if (((tflags(p->st_tag[if_idx]) | tflags(p->st_ptag[if_idx]) |
              tflags(common_tag)) & F_PRESERVE) &&
            p->olen != p->st_oout[if_idx]) {
            p->bail = 1;
            return;
        }
        uint8_t zone_fz = p->st_fz[if_idx];
        /* inner loop: walk DOWN from furthest toward fmt */
        uint32_t node_ser = furthest_ser;
        int node_on = 1;
        uint32_t last_ser = furthest_ser;       /* last_node */
        /* clone chain (child->parent): parent tag of furthest, then of
         * each successive clone; fixed up after the final append.
         * Recorded by SERIAL (stack indices shift on removals). */
        uint32_t chain_ser[3]; int n_chain = 0;
        int chain_block = 0;   /* any clone with a block tag ('s') */
        for (int inner = 0; inner < 3; inner++) {
            int ni = on_stack_ser(p, node_ser);
            node_on = ni >= 0;
            if (node_on && ni > 0) { node_ser = p->st_ser[ni - 1]; ni = ni - 1; }
            else if (node_on) { p->bail = 1; return; }  /* at bottom */
            if (in_fmt_ser(p, node_ser) < 0) {
                remove_stack_serial(p, node_ser);
                if (p->bail) return;
                continue;
            }
            if (node_ser == fser) break;
            /* replace node with a fresh clone in fmt list AND stack */
            int nfi = in_fmt_ser(p, node_ser);
            int nsi = on_stack_ser(p, node_ser);
            if (nsi < 0) { p->bail = 1; return; }   /* off-stack fmt node */
            uint32_t clone = ++p->serial;
            if (tflags(p->f_tag[nfi]) & F_BLOCK) chain_block = 1;
            p->f_ser[nfi] = clone;
            p->st_ser[nsi] = clone;
            /* tree: last_node reparented under the clone */
            if (n_chain < 3) chain_ser[n_chain++] = clone;
            node_ser = clone;
            last_ser = clone;
            (void)nsi;
        }
        /* last_node appended to the common ancestor; fix the st_ptag
         * (preserve-gp) chain: furthest -> clone_1 -> ... -> common */
        {
            int prev_tag = common_tag;
            for (int k = n_chain - 1; k >= 0; k--) {
                int idx = on_stack_ser(p, chain_ser[k]);
                if (idx < 0) { p->bail = 1; return; }
                p->st_ptag[idx] = prev_tag;
                prev_tag = p->st_tag[idx];
            }
            int fsi = on_stack_ser(p, furthest_ser);
            int fmi = on_stack_ser(p, fser);
            if (fsi < 0 || fmi < 0 || fmi > fsi) { p->bail = 1; return; }
            /* in-fmt elements the 3-iteration cap left unprocessed
             * between fmt and furthest remain OPEN at a tree position
             * BEFORE the moved block: future content into them would
             * reorder vs the stream -> bail */
            for (int si = fmi + 1; si < fsi; si++) {
                int okc = 0;
                for (int k = 0; k < n_chain; k++)
                    if (p->st_ser[si] == chain_ser[k]) { okc = 1; break; }
                if (!okc) { p->bail = 1; return; }
            }
            p->st_ptag[fsi] = prev_tag;
            /* the entry directly above furthest (its direct child, if
             * any) is adopted by the new clone of fmt */
            if (fsi + 1 < p->sp && p->st_ptag[fsi + 1] == p->st_tag[fsi])
                p->st_ptag[fsi + 1] = ftag;
            /* adopter: clone of fmt wrapping furthest's children,
             * appended to furthest and pushed right after it */
            if (p->sp >= MAXSTACK) { p->bail = 1; return; }
            int at = fsi + 1;
            memmove(p->st_tag + at + 1, p->st_tag + at,
                    (p->sp - at) * sizeof(int32_t));
            memmove(p->st_ser + at + 1, p->st_ser + at,
                    (p->sp - at) * sizeof(uint32_t));
            memmove(p->st_ptag + at + 1, p->st_ptag + at,
                    (p->sp - at) * sizeof(int32_t));
            memmove(p->st_fz + at + 1, p->st_fz + at,
                    (Py_ssize_t)(p->sp - at));
            memmove(p->st_oout + at + 1, p->st_oout + at,
                    (p->sp - at) * sizeof(Py_ssize_t));
            p->st_tag[at] = ftag;
            p->st_ser[at] = ++p->serial;
            p->st_ptag[at] = p->st_tag[fsi];
            p->st_fz[at] = zone_fz;
            p->sp++;
            (void)fhas;
            /* Splice joins: the chain clones wrap the furthest block's
             * emitted SUBTREE (their joins land at its start) and the
             * adopter wraps its CHILDREN (join at child-content start).
             * jsoup's block list includes the formatter 's', so these
             * can be real block joins.  For a BLOCK furthest both
             * positions sit at a join boundary the stream already
             * resolved — provably a no-op either way.  For a non-block
             * furthest with nothing emitted since its push, all the
             * splice joins collapse to ONE join at the current end;
             * with content in between a retro-insert would be needed
             * -> bail. */
            if (chain_block || (tflags(ftag) & F_BLOCK) || ftag == T_br) {
                if (tflags(p->st_tag[fsi]) & F_BLOCK) {
                    /* join boundary: suppressed / already materialized */
                } else if (p->olen != p->st_oout[fsi]) {
                    p->bail = 1;
                    return;
                } else {
                    int opened = 0;
                    if (zone_fz && !p->fz_brk) {
                        tb_sync(p);
                        if (!p->n_tbl) { p->bail = 1; return; }
                        fz_begin(p);
                        if (p->bail) return;
                        opened = 1;
                    }
                    if (out_nonempty(p) && !out_lastspace(p)) {
                        seg_note(p, SJ_SPACE);
                        putb(p, ' ');
                    } else {
                        seg_note(p, SJ_SUPP);
                    }
                    if (opened) fz_end(p);
                }
            }
        }
        /* fmt element leaves both the stack and the list */
        remove_stack_serial(p, fser);
        if (p->bail) return;
        {
            int rfi = in_fmt_ser(p, fser);
            if (rfi >= 0) remove_fmt_at(p, rfi);
        }
    }
}

static void close_p_if_open(P *p) {
    if (in_button_scope(p, T_p)) {
        gen_implied(p, T_p);
        pop_to_close(p, T_p);
        p->foster_arm = 0;   /* nested mode-dispatch end (jsoup quirk) */
    }
}

/* insert_from_token: sc queues a synthetic end tag (processed by the
 * dispatch wrapper AFTER the caller's post-insert steps, mirroring the
 * tokenizer pending queue). Returns the element serial. */
static uint32_t insert_from_token(P *p, int tag, int sc) {
    uint32_t ser = insert_el_tok(p, tag);
    if (sc) p->pending_end = tag;
    return ser;
}

static void handle_end_body(P *p, int tag) {
    uint32_t f = tflags(tag);
    if (f & F_FORMATTER) { aaa(p, tag); return; }
    if (tag == T_body || tag == T_html) return;  /* mode-only effects */
    if (f & F_ENDCLOSER) {
        if (!in_scope(p, tag)) return;
        gen_implied(p, -1);           /* nil-exclude: no-op */
        pop_to_close(p, tag);
        return;
    }
    if (tag == T_form) {
        int had = p->have_form;
        uint32_t fs = p->form_ser;
        p->have_form = 0; p->form_ser = 0;
        if (!had || !in_scope(p, T_form)) return;
        gen_implied(p, -1);
        remove_stack_serial(p, fs);
        return;
    }
    if (tag == T_p) {
        if (!in_button_scope(p, T_p)) {
            /* synth <p> then close it: net effect is the block space,
             * fostered when armed with a table-ish insert parent */
            int o = fz_enter(p);
            if (p->bail) return;
            maybe_space(p, T_p);
            if (o) fz_end(p);
            return;
        }
        gen_implied(p, T_p);
        pop_to_close(p, T_p);
        return;
    }
    if (tag == T_li) {
        if (!in_list_scope(p, T_li)) return;
        gen_implied(p, T_li);
        pop_to_close(p, T_li);
        return;
    }
    if (f & F_DDDT) {
        if (!in_scope(p, tag)) return;
        gen_implied(p, tag);
        pop_to_close(p, tag);
        return;
    }
    if (f & F_HEADING) {
        if (!headings_in_scope(p)) return;
        gen_implied(p, tag);
        pop_to_close_headings(p);
        return;
    }
    if (f & F_APPLET) {
        if (!in_scope(p, tag)) return;
        gen_implied(p, -1);
        pop_to_close(p, tag);
        clear_fmt_to_marker(p);
        return;
    }
    if (tag == T_br) return;          /* </br> ignored */
    any_other_end(p, tag);
}

/* rcdata element (title/textarea): content is a preserved text node */
static void start_rcdata(P *p, int tag, int sc,
                         const uint8_t *name, int nlen) {
    if (sc) {
        insert_el_tok(p, tag);
        if (tag == T_title && !p->title_set) {
            p->title_set = 1; p->title_a = p->title_b = 0;
        }
        pop_el(p);
        return;
    }
    insert_el_tok(p, tag);
    Py_ssize_t i = p->pos, content_end, close;
    find_close(p, i, name, nlen, &content_end, &close);
    if (close < 0) {
        Py_ssize_t bj = find_breakout(p, i);
        if (bj >= 0) {      /* rcdata breakout deviation */
            if (tag == T_title && !p->title_set) {
                p->title_set = 1; p->title_a = i; p->title_b = bj;
            }
            { int o = fz_enter(p); if (p->bail) return;
              emit_preserve(p, i, bj, 1); if (o) fz_end(p); }
            p->pos = bj;
            pop_el(p);
            return;
        }
        content_end = p->n;
        if (tag == T_title && !p->title_set) {
            p->title_set = 1; p->title_a = i; p->title_b = content_end;
        }
        { int o = fz_enter(p); if (p->bail) return;
          emit_preserve(p, i, content_end, 1); if (o) fz_end(p); }
        p->pos = p->n;
        pop_el(p);          /* EOF in Text mode pops */
        return;
    }
    if (tag == T_title && !p->title_set) {
        p->title_set = 1; p->title_a = i; p->title_b = content_end;
    }
    { int o = fz_enter(p); if (p->bail) return;
      emit_preserve(p, i, content_end, 1); if (o) fz_end(p); }
    consume_end_tag(p, close);
    pop_el(p);
}

/* rawtext/script element: content is a DataNode (excluded from text) */
static void start_rawtext(P *p, int tag, int sc,
                          const uint8_t *name, int nlen, int is_script) {
    if (sc) { insert_el_tok(p, tag); pop_el(p); return; }
    insert_el_tok(p, tag);
    Py_ssize_t i = p->pos, content_end, close;
    if (is_script) script_end(p, i, &content_end, &close);
    else find_close(p, i, name, nlen, &content_end, &close);
    if (close >= 0) consume_end_tag(p, close);
    else p->pos = p->n;
    pop_el(p);
}

static void handle_start_body(P *p, int tag, int sc, int has_attrs,
                              const uint8_t *name, int nlen);

/* the _in_head handling shared by M_HEAD / after-head re-entry /
 * in-body TO_HEAD starts. Returns 1 if handled. */
static int to_head_start(P *p, int tag, int sc,
                         const uint8_t *name, int nlen) {
    if (tag == T_base || tag == T_basefont || tag == T_bgsound ||
        tag == T_command || tag == T_link || tag == T_meta) {
        insert_empty_el_tok(p, tag);
        return 1;
    }
    if (tag == T_title) { start_rcdata(p, tag, sc, name, nlen); return 1; }
    if (tag == T_noframes || tag == T_style) {
        start_rawtext(p, tag, sc, name, nlen, 0);
        return 1;
    }
    if (tag == T_script) { start_rawtext(p, tag, sc, name, nlen, 1); return 1; }
    if (tag == T_head) return 1;      /* error, ignore */
    return 0;
}

static void handle_start_body(P *p, int tag, int sc, int has_attrs,
                              const uint8_t *name, int nlen) {
    uint32_t f = tflags(tag);
    if (f & F_BAIL) { p->bail = 1; return; }
    if (tag == T_html) {
        if (has_attrs && p->scope_id && !p->scope_done) p->bail = 1;
        return;
    }
    if (f & F_TOHEAD) {                           /* incl noscript? no */
        to_head_start(p, tag, sc, name, nlen);
        return;
    }
    if (tag == T_body) {
        /* duplicate <body>: Python merges attrs into the existing body
         * (setdefault) — could introduce the scope id */
        if (has_attrs && p->scope_id && !p->scope_done) p->bail = 1;
        return;
    }
    if (f & F_PCLOSER) {
        close_p_if_open(p);
        insert_from_token(p, tag, sc);
        return;
    }
    if (f & F_HEADING) {
        close_p_if_open(p);
        if (p->sp > 0 && (tflags(top_tag(p)) & F_HEADING)) pop_el(p);
        insert_from_token(p, tag, sc);
        return;
    }
    if (tag == T_pre || tag == T_listing) {
        close_p_if_open(p);
        insert_from_token(p, tag, sc);
        return;
    }
    if (tag == T_form) {
        if (p->have_form) return;                 /* nested form dropped */
        close_p_if_open(p);
        p->form_ser = insert_from_token(p, tag, sc);
        p->have_form = 1;
        return;
    }
    if (tag == T_li) {
        for (int i = p->sp - 1; i >= 0; i--) {
            int t = p->st_tag[i];
            if (t == T_li) {
                handle_end_body(p, T_li);
                p->foster_arm = 0;   /* nested mode-dispatch end (jsoup quirk) */
                break;
            }
            uint32_t tf = tflags(t);
            if ((tf & F_SPECIAL) && !(tf & F_LIBREAK)) break;
        }
        close_p_if_open(p);
        insert_from_token(p, tag, sc);
        return;
    }
    if (f & F_DDDT) {
        for (int i = p->sp - 1; i >= 0; i--) {
            int t = p->st_tag[i];
            if (tflags(t) & F_DDDT) {
                handle_end_body(p, t);
                p->foster_arm = 0;   /* nested mode-dispatch end (jsoup quirk) */
                break;
            }
            uint32_t tf = tflags(t);
            if ((tf & F_SPECIAL) && !(tf & F_LIBREAK)) break;
        }
        close_p_if_open(p);
        insert_from_token(p, tag, sc);
        return;
    }
    /* plaintext / table / select / frameset / svg / math are F_BAIL */
    if (tag == T_button) {
        if (in_button_scope(p, T_button)) {
            handle_end_body(p, T_button);
            p->foster_arm = 0;   /* nested mode-dispatch end (jsoup quirk) */
            if (p->bail) return;
            /* python: return self.process(t) — re-dispatch through the
             * mode (re-arms via anything-else in table modes) */
            dispatch_start(p, tag, sc, has_attrs, name, nlen);
            return;
        }
        reconstruct_fmt(p);
        insert_from_token(p, tag, sc);
        return;
    }
    if (tag == T_a) {
        if (get_active_fmt(p, T_a) >= 0) {
            handle_end_body(p, T_a);              /* AAA path */
            p->foster_arm = 0;   /* nested mode-dispatch end (jsoup quirk) */
            if (p->bail) return;
            int rem = get_active_fmt(p, T_a);
            if (rem >= 0) {
                uint32_t rs = p->f_ser[rem];
                remove_fmt_at(p, rem);
                remove_stack_serial(p, rs);
            }
        }
        reconstruct_fmt(p);
        {
            uint32_t ser = insert_from_token(p, tag, sc);
            push_fmt(p, tag, ser, has_attrs);
        }
        return;
    }
    if (f & F_FORMATTER) {   /* b big code em font i nobr s small strike strong tt u */
        reconstruct_fmt(p);
        {
            uint32_t ser = insert_from_token(p, tag, sc);
            push_fmt(p, tag, ser, has_attrs);
        }
        return;
    }
    if (f & F_APPLET) {
        reconstruct_fmt(p);
        insert_from_token(p, tag, sc);
        push_marker(p);
        return;
    }
    if (tag == T_table) {
        /* _in_body_start table: close p unless quirks, enter table mode.
         * Register the foster level BEFORE the insert so the table's own
         * entry join is noted as segment head (tree order puts fostered
         * content before it). */
        if (p->quirks != 1 && in_button_scope(p, T_p)) close_p_if_open(p);
        tb_sync(p);
        if (p->n_tbl >= MAXTBL) { p->bail = 1; return; }
        int k = p->n_tbl++;
        p->tb_fpt[k] = p->olen;
        p->tb_sj[k] = SJ_NONE;
        p->tb_spidx[k] = p->sp;
        p->tb_ser[k] = 0;
        insert_from_token(p, tag, sc);   /* sc end handled mode-aware */
        if (p->bail) return;
        p->tb_ser[k] = p->st_ser[p->sp - 1];
        p->mode = M_TABLE;
        return;
    }
    if (tag == T_select) {
        reconstruct_fmt(p);
        insert_from_token(p, tag, sc);
        /* treebuilder._in_body select: IN_SELECT_IN_TABLE when the mode
         * is any table-ish one (incl. fostered selects from InTable) */
        p->mode = (p->mode == M_CAPTION || p->mode == M_CELL ||
                   p->mode == M_TABLE || p->mode == M_TBODY ||
                   p->mode == M_ROW)
                      ? M_SELECT_TB : M_SELECT;
        return;
    }
    if (f & F_EMPTYFMT) {    /* area br embed img keygen wbr */
        reconstruct_fmt(p);
        insert_empty_el_tok(p, tag);
        return;
    }
    if (tag == T_input) {
        reconstruct_fmt(p);
        insert_empty_el_tok(p, tag);
        return;
    }
    if (f & F_MEDIA) {       /* param source track */
        insert_empty_el_tok(p, tag);
        return;
    }
    if (tag == T_hr) {
        close_p_if_open(p);
        insert_empty_el_tok(p, tag);
        return;
    }
    if (tag == T_image) {    /* rewrite to img */
        handle_start_body(p, T_img, sc, has_attrs, (const uint8_t *)"img", 3);
        return;
    }
    if (tag == T_textarea) {
        start_rcdata(p, tag, sc, name, nlen);
        return;
    }
    if (tag == T_xmp) {
        close_p_if_open(p);
        reconstruct_fmt(p);
        start_rawtext(p, tag, sc, name, nlen, 0);
        return;
    }
    if (tag == T_iframe || tag == T_noembed) {
        start_rawtext(p, tag, sc, name, nlen, 0);
        return;
    }
    if (tag == T_optgroup || tag == T_option) {
        if (top_tag(p) == T_option) {
            handle_end_body(p, T_option);
            p->foster_arm = 0;   /* nested mode-dispatch end (jsoup quirk) */
        }
        reconstruct_fmt(p);
        insert_from_token(p, tag, sc);
        return;
    }
    if (tag == T_rp || tag == T_rt) {
        if (in_scope(p, T_ruby)) {
            gen_implied(p, -1);       /* no-arg: no-op */
            insert_from_token(p, tag, sc);
        }
        return;
    }
    if (f & F_DROP) return;           /* caption col head tbody td ... */
    reconstruct_fmt(p);
    insert_from_token(p, tag, sc);
}


/* ---- table machinery (treebuilder _in_table.. _in_cell mirrors) ----- */

static int run_all_ws(P *p, Py_ssize_t a, Py_ssize_t b, int decode);

static int in_table_scope(P *p, int tag) {
    for (int i = p->sp - 1; i >= 0; i--) {
        int t = p->st_tag[i];
        if (t == tag) return 1;
        if (t == T_html || t == T_table) return 0;
    }
    return 0;
}

static void clear_to_table_ctx(P *p) {
    while (p->sp > 0) {
        int t = top_tag(p);
        if (t == T_table || t == T_html) return;
        p->sp--;
    }
}

static void clear_to_tbody_ctx(P *p) {
    while (p->sp > 0) {
        int t = top_tag(p);
        if (t == T_tbody || t == T_tfoot || t == T_thead || t == T_html)
            return;
        p->sp--;
    }
}

static void clear_to_tr_ctx(P *p) {
    while (p->sp > 0) {
        int t = top_tag(p);
        if (t == T_tr || t == T_html) return;
        p->sp--;
    }
}

/* treebuilder._reset_insertion_mode (non-fragment) */
static void reset_insertion_mode(P *p) {
    for (int i = p->sp - 1; i >= 0; i--) {
        int t = p->st_tag[i];
        int last = (i == 0);
        if (t == T_select) { p->mode = M_SELECT; return; }
        if ((t == T_td || t == T_th) && !last) { p->mode = M_CELL; return; }
        if (t == T_tr) { p->mode = M_ROW; return; }
        if (t == T_tbody || t == T_thead || t == T_tfoot) {
            p->mode = M_TBODY; return;
        }
        if (t == T_caption) { p->mode = M_CAPTION; return; }
        if (t == T_colgroup) { p->mode = M_COLGROUP; return; }
        if (t == T_table) { p->mode = M_TABLE; return; }
        if (t == T_head || t == T_body) { p->mode = M_BODY; return; }
        if (t == T_html) { p->mode = M_PRE; return; }   /* BeforeHead */
        if (last) { p->mode = M_BODY; return; }
    }
    p->mode = M_BODY;
}

/* pending table characters (treebuilder IN_TABLE_TEXT): spans buffered
 * while in table/tbody/tr context; whitespace-only -> inserted as text
 * under the table-ish element, anything else would FOSTER (re-homed
 * before the table => emission reorder) -> bail to the python kernel */
static void pend_add(P *p, Py_ssize_t a, Py_ssize_t b, int decode) {
    if (p->n_pend >= 32) { p->bail = 1; return; }
    p->pend_tx[p->n_pend][0] = a;
    p->pend_tx[p->n_pend][1] = b;
    p->pend_decode[p->n_pend] = (uint8_t)decode;
    p->n_pend++;
}

static void pend_flush(P *p) {
    if (!p->n_pend || p->bail) return;
    int nonws = 0;
    for (int i = 0; i < p->n_pend; i++)
        if (!run_all_ws(p, p->pend_tx[i][0], p->pend_tx[i][1],
                        p->pend_decode[i])) { nonws = 1; break; }
    /* non-ws text runs through the InBody char path with foster armed
     * (treebuilder._in_table_text): reconstruct + insert, re-homed
     * before the table when the insert parent is table-ish.  Ws-only
     * inserts plainly under the current element (no reconstruct). */
    if (nonws) p->foster_arm = 1;
    int o = fz_enter(p);
    if (p->bail) { p->foster_arm = 0; return; }
    if (nonws) reconstruct_fmt(p);
    if (p->bail) { if (o) fz_end(p); p->foster_arm = 0; return; }
    int parent, gp;
    if (p->foster_arm && is_tableish(top_tag(p))) {
        /* text re-homes before the table, under the table's TREE parent
         * (preserve-ws ancestry follows the foster target) */
        int ti = p->tb_spidx[p->n_tbl - 1];
        parent = p->st_ptag[ti];
        if (ti >= 1 && p->st_tag[ti - 1] != parent) {
            p->bail = 1;   /* mid-stack removal in between: gp unknown */
            p->foster_arm = 0;
            return;
        }
        gp = ti >= 1 ? p->st_ptag[ti - 1] : -1;
    } else {
        parent = top_tag(p);
        gp = p->sp > 0 ? p->st_ptag[p->sp - 1] : -1;
    }
    int preserve = (tflags(parent) & F_PRESERVE) ||
                   (tflags(gp) & F_PRESERVE);
    for (int i = 0; i < p->n_pend; i++) {
        if (preserve)
            emit_preserve(p, p->pend_tx[i][0], p->pend_tx[i][1],
                          p->pend_decode[i]);
        else
            emit_norm(p, p->pend_tx[i][0], p->pend_tx[i][1],
                      p->pend_decode[i]);
    }
    if (o) fz_end(p);
    p->foster_arm = 0;
    p->n_pend = 0;
}

static void handle_end_table_mode(P *p, int tag);
static void handle_start_table_mode(P *p, int tag, int sc, int has_attrs,
                                    const uint8_t *name, int nlen);

/* M_TABLE end tags (_in_table end branch) */
static void handle_end_table_mode(P *p, int tag) {
    if (tag == T_table) {
        if (!in_table_scope(p, T_table)) return;     /* error, ignore */
        pop_to_close(p, T_table);
        reset_insertion_mode(p);
        return;
    }
    if (tag == T_body || tag == T_caption || tag == T_col ||
        tag == T_colgroup || tag == T_html || tag == T_tbody ||
        tag == T_td || tag == T_tfoot || tag == T_th || tag == T_thead ||
        tag == T_tr)
        return;                                       /* error, ignore */
    /* _in_table_anything_else for END tags runs InBody processing with
     * foster-inserts armed — every InBody end-tag branch only pops or
     * removes, EXCEPT a stray </p> (synthesizes a fostered empty <p>
     * whose block-space lands in the foster zone) and a real adoption
     * run (aaa() bails on node-moving cases itself).  Bracket to the
     * zone so any emission fosters correctly. */
    p->foster_arm = 1;
    handle_end_body(p, tag);
    p->foster_arm = 0;
}

/* M_TABLE start tags (_in_table start branch) */
static void handle_start_table_mode(P *p, int tag, int sc, int has_attrs,
                                    const uint8_t *name, int nlen) {
    if (tag == T_caption) {
        clear_to_table_ctx(p);
        push_marker(p);
        insert_el_tok(p, tag);
        p->mode = M_CAPTION;
        return;
    }
    if (tag == T_colgroup) {
        clear_to_table_ctx(p);
        insert_el_tok(p, tag);
        p->mode = M_COLGROUP;
        return;
    }
    if (tag == T_col) {
        clear_to_table_ctx(p);
        insert_el(p, T_colgroup);        /* synthesized, no token attrs */
        p->mode = M_COLGROUP;
        dispatch_start(p, tag, sc, has_attrs, name, nlen);
        return;
    }
    if (tag == T_tbody || tag == T_tfoot || tag == T_thead) {
        clear_to_table_ctx(p);
        insert_el_tok(p, tag);
        p->mode = M_TBODY;
        return;
    }
    if (tag == T_td || tag == T_th || tag == T_tr) {
        clear_to_table_ctx(p);
        insert_el(p, T_tbody);           /* synthesized */
        p->mode = M_TBODY;
        dispatch_start(p, tag, sc, has_attrs, name, nlen);
        return;
    }
    if (tag == T_table) {
        /* nested <table>: acts as </table> then reprocess */
        if (in_table_scope(p, T_table)) {
            pop_to_close(p, T_table);
            reset_insertion_mode(p);
            dispatch_start(p, tag, sc, has_attrs, name, nlen);
        }
        return;
    }
    if (tag == T_style) { start_rawtext(p, tag, sc, name, nlen, 0); return; }
    if (tag == T_script) { start_rawtext(p, tag, sc, name, nlen, 1); return; }
    if (tag == T_form) {
        if (p->have_form) return;
        /* inserted EMPTY in table context (no push), UNfostered
         * (python's form branch does not arm); join_space routes the
         * block join into the zone when the top is a fostered element */
        {
            int arm = p->foster_arm;
            p->foster_arm = 0;
            insert_empty_el_tok(p, tag);
            p->foster_arm = arm;
        }
        p->have_form = 1;
        p->form_ser = 0;                 /* not on the stack */
        return;
    }
    if (tag == T_input) {
        /* type=hidden inserts in place, others foster; attr values are
         * not captured here -> undecidable, fall back */
        p->bail = 1;
        return;
    }
    /* _in_table_anything_else: InBody processing with foster-inserts
     * armed.  With a table-ish insert parent the element re-homes
     * before the table (emission bracketed to the foster zone); with a
     * fostered element already open (topfz) it nests inside it, which
     * is also the zone. */
    p->foster_arm = 1;
    handle_start_body(p, tag, sc, has_attrs, name, nlen);
    p->foster_arm = 0;
}


/* ---- remaining table-mode dispatchers ------------------------------- */

static void close_cell(P *p);

/* M_TBODY (_in_table_body) */
static void tbody_exit(P *p, int tag, int is_end, int sc, int has_attrs,
                       const uint8_t *name, int nlen) {
    /* _exit_table_body */
    if (!(in_table_scope(p, T_tbody) || in_table_scope(p, T_thead) ||
          in_table_scope(p, T_tfoot)))
        return;                                       /* error, ignore */
    clear_to_tbody_ctx(p);
    /* process(("end", current)) -> pops the tbody-ish element */
    {
        int cur = top_tag(p);
        if (in_table_scope(p, cur)) {
            clear_to_tbody_ctx(p);
            pop_el(p);
            p->mode = M_TABLE;
        }
    }
    if (is_end) dispatch_end(p, tag);
    else dispatch_start(p, tag, sc, has_attrs, name, nlen);
}

static void handle_start_tbody(P *p, int tag, int sc, int has_attrs,
                               const uint8_t *name, int nlen) {
    if (tag == T_tr) {
        clear_to_tbody_ctx(p);
        insert_el_tok(p, tag);
        p->mode = M_ROW;
        return;
    }
    if (tag == T_th || tag == T_td) {
        clear_to_tbody_ctx(p);
        insert_el(p, T_tr);              /* synthesized */
        p->mode = M_ROW;
        dispatch_start(p, tag, sc, has_attrs, name, nlen);
        return;
    }
    if (tag == T_caption || tag == T_col || tag == T_colgroup ||
        tag == T_tbody || tag == T_tfoot || tag == T_thead) {
        tbody_exit(p, tag, 0, sc, has_attrs, name, nlen);
        return;
    }
    handle_start_table_mode(p, tag, sc, has_attrs, name, nlen);
}

static void handle_end_tbody(P *p, int tag) {
    if (tag == T_tbody || tag == T_tfoot || tag == T_thead) {
        if (!in_table_scope(p, tag)) return;
        clear_to_tbody_ctx(p);
        pop_el(p);
        p->mode = M_TABLE;
        return;
    }
    if (tag == T_table) { tbody_exit(p, tag, 1, 0, 0, NULL, 0); return; }
    if (tag == T_body || tag == T_caption || tag == T_col ||
        tag == T_colgroup || tag == T_html || tag == T_td || tag == T_th ||
        tag == T_tr)
        return;
    handle_end_table_mode(p, tag);
}

/* M_ROW (_in_row) */
static int row_end_tr(P *p) {
    if (!in_table_scope(p, T_tr)) return 0;
    clear_to_tr_ctx(p);
    pop_el(p);
    p->mode = M_TBODY;
    return 1;
}

static void handle_start_row(P *p, int tag, int sc, int has_attrs,
                             const uint8_t *name, int nlen) {
    if (tag == T_th || tag == T_td) {
        clear_to_tr_ctx(p);
        insert_el_tok(p, tag);           /* sc ignored (python insert_elem) */
        p->mode = M_CELL;
        push_marker(p);
        return;
    }
    if (tag == T_caption || tag == T_col || tag == T_colgroup ||
        tag == T_tbody || tag == T_tfoot || tag == T_thead || tag == T_tr) {
        if (row_end_tr(p))
            dispatch_start(p, tag, sc, has_attrs, name, nlen);
        return;
    }
    handle_start_table_mode(p, tag, sc, has_attrs, name, nlen);
}

static void handle_end_row(P *p, int tag) {
    if (tag == T_tr) { row_end_tr(p); return; }
    if (tag == T_table) {
        if (row_end_tr(p)) dispatch_end(p, tag);
        return;
    }
    if (tag == T_tbody || tag == T_tfoot || tag == T_thead) {
        if (!in_table_scope(p, tag)) return;
        row_end_tr(p);
        dispatch_end(p, tag);
        return;
    }
    if (tag == T_body || tag == T_caption || tag == T_col ||
        tag == T_colgroup || tag == T_html || tag == T_td || tag == T_th)
        return;
    handle_end_table_mode(p, tag);
}

/* M_CELL (_in_cell) */
static void handle_end_cell(P *p, int tag) {
    if (tag == T_td || tag == T_th) {
        if (!in_table_scope(p, tag)) { p->mode = M_ROW; return; }
        gen_implied(p, -1);              /* nil-exclude: no-op */
        pop_to_close(p, tag);
        clear_fmt_to_marker(p);
        p->mode = M_ROW;
        return;
    }
    if (tag == T_body || tag == T_caption || tag == T_col ||
        tag == T_colgroup || tag == T_html)
        return;
    if (tag == T_table || tag == T_tbody || tag == T_tfoot ||
        tag == T_thead || tag == T_tr) {
        if (!in_table_scope(p, tag)) return;
        close_cell(p);
        dispatch_end(p, tag);
        return;
    }
    handle_end_body(p, tag);
}

static void close_cell(P *p) {
    if (in_table_scope(p, T_td)) handle_end_cell(p, T_td);
    else handle_end_cell(p, T_th);
}

static void handle_start_cell(P *p, int tag, int sc, int has_attrs,
                              const uint8_t *name, int nlen) {
    if (tag == T_caption || tag == T_col || tag == T_colgroup ||
        tag == T_tbody || tag == T_td || tag == T_tfoot || tag == T_th ||
        tag == T_thead || tag == T_tr) {
        if (!(in_table_scope(p, T_td) || in_table_scope(p, T_th))) return;
        close_cell(p);
        dispatch_start(p, tag, sc, has_attrs, name, nlen);
        return;
    }
    handle_start_body(p, tag, sc, has_attrs, name, nlen);
}

/* M_CAPTION (_in_caption) */
static int caption_close(P *p) {
    if (!in_table_scope(p, T_caption)) return 0;
    gen_implied(p, -1);
    pop_to_close(p, T_caption);
    clear_fmt_to_marker(p);
    p->mode = M_TABLE;
    return 1;
}

static void handle_start_caption(P *p, int tag, int sc, int has_attrs,
                                 const uint8_t *name, int nlen) {
    if (tag == T_caption || tag == T_col || tag == T_colgroup ||
        tag == T_tbody || tag == T_td || tag == T_tfoot || tag == T_th ||
        tag == T_thead || tag == T_tr) {
        if (caption_close(p))
            dispatch_start(p, tag, sc, has_attrs, name, nlen);
        return;
    }
    handle_start_body(p, tag, sc, has_attrs, name, nlen);
}

static void handle_end_caption(P *p, int tag) {
    if (tag == T_caption) { caption_close(p); return; }
    if (tag == T_table) {
        if (caption_close(p)) dispatch_end(p, tag);
        return;
    }
    if (tag == T_body || tag == T_col || tag == T_colgroup ||
        tag == T_html || tag == T_tbody || tag == T_td || tag == T_tfoot ||
        tag == T_th || tag == T_thead || tag == T_tr)
        return;
    handle_end_body(p, tag);
}

/* M_COLGROUP (_in_column_group) */
static void handle_start_colgroup(P *p, int tag, int sc, int has_attrs,
                                  const uint8_t *name, int nlen) {
    if (tag == T_html) {
        if (has_attrs && p->scope_id && !p->scope_done) p->bail = 1;
        return;
    }
    if (tag == T_col) { insert_empty_el_tok(p, tag); return; }
    if (top_tag(p) == T_html) return;    /* error, ignore */
    pop_el(p);
    p->mode = M_TABLE;
    dispatch_start(p, tag, sc, has_attrs, name, nlen);
}

static void handle_end_colgroup(P *p, int tag) {
    if (tag == T_colgroup) {
        if (top_tag(p) == T_html) return;
        pop_el(p);
        p->mode = M_TABLE;
        return;
    }
    if (tag == T_col) return;            /* error, ignore */
    if (top_tag(p) == T_html) return;
    pop_el(p);
    p->mode = M_TABLE;
    dispatch_end(p, tag);
}

/* ---- select modes (_in_select / _in_select_in_table) ---------------- */

static int in_select_scope(P *p, int tag) {
    for (int i = p->sp - 1; i >= 0; i--) {
        int t = p->st_tag[i];
        if (t == tag) return 1;
        if (t != T_optgroup && t != T_option) return 0;
    }
    return 0;
}

/* char insert inside select: no reconstruct (python insert_char) */
static void select_text(P *p, Py_ssize_t a, Py_ssize_t b, int decode) {
    int o = fz_enter(p);                 /* fostered select */
    if (p->bail) return;
    int parent = p->sp > 0 ? p->st_tag[p->sp - 1] : -1;
    int gp = p->sp > 0 ? p->st_ptag[p->sp - 1] : -1;
    if ((tflags(parent) & F_PRESERVE) || (tflags(gp) & F_PRESERVE))
        emit_preserve(p, a, b, decode);
    else
        emit_norm(p, a, b, decode);
    if (o) fz_end(p);
}

static void select_end_select(P *p) {
    if (!in_select_scope(p, T_select)) return;    /* error, ignore */
    pop_to_close(p, T_select);
    reset_insertion_mode(p);
}

static void handle_start_select(P *p, int tag, int sc, int has_attrs,
                                const uint8_t *name, int nlen) {
    if (tag == T_html) {
        if (has_attrs && p->scope_id && !p->scope_done) p->bail = 1;
        return;
    }
    if (tag == T_option) {
        if (top_tag(p) == T_option) pop_el(p);
        insert_el_tok(p, tag);
        return;
    }
    if (tag == T_optgroup) {
        if (top_tag(p) == T_option) pop_el(p);
        if (top_tag(p) == T_optgroup) pop_el(p);
        insert_el_tok(p, tag);
        return;
    }
    if (tag == T_select) { select_end_select(p); return; }
    if (tag == T_input || tag == T_textarea || tag == T_keygen) {
        if (!in_select_scope(p, T_select)) return;  /* error, ignore */
        select_end_select(p);
        dispatch_start(p, tag, sc, has_attrs, name, nlen);
        return;
    }
    if (tag == T_script) { start_rawtext(p, tag, sc, name, nlen, 1); return; }
    /* anything else: error, token ignored */
}

static void handle_end_select(P *p, int tag) {
    if (tag == T_optgroup) {
        if (top_tag(p) == T_option && p->sp >= 2 &&
            p->st_tag[p->sp - 2] == T_optgroup)
            pop_el(p);                              /* implied </option> */
        if (top_tag(p) == T_optgroup) pop_el(p);
        return;
    }
    if (tag == T_option) {
        if (top_tag(p) == T_option) pop_el(p);
        return;
    }
    if (tag == T_select) { select_end_select(p); return; }
    /* anything else: error, ignored */
}

static void handle_start_select_tb(P *p, int tag, int sc, int has_attrs,
                                   const uint8_t *name, int nlen) {
    if (tag == T_caption || tag == T_table || tag == T_tbody ||
        tag == T_tfoot || tag == T_thead || tag == T_tr || tag == T_td ||
        tag == T_th) {
        select_end_select(p);
        dispatch_start(p, tag, sc, has_attrs, name, nlen);
        return;
    }
    handle_start_select(p, tag, sc, has_attrs, name, nlen);
}

static void handle_end_select_tb(P *p, int tag) {
    if (tag == T_caption || tag == T_table || tag == T_tbody ||
        tag == T_tfoot || tag == T_thead || tag == T_tr || tag == T_td ||
        tag == T_th) {
        if (!in_table_scope(p, tag)) return;        /* error, ignore */
        select_end_select(p);
        dispatch_end(p, tag);
        return;
    }
    handle_end_select(p, tag);
}

/* ---- mode dispatch (Initial..AfterHead synthesis + InBody) ---------- */

static void ensure_html(P *p) {
    if (!p->have_html) { push_el(p, T_html); p->have_html = 1; }
}

/* stack.append(head_el) — re-push an existing element: no node insert,
 * no block-space (after-head TO_HEAD re-entry) */
static void push_existing(P *p, int tag, uint32_t ser) {
    if (p->sp >= MAXSTACK) { p->bail = 1; return; }
    p->st_ptag[p->sp] = T_html;   /* only used to re-enter <head> */
    p->st_tag[p->sp] = tag;
    p->st_ser[p->sp] = ser;
    p->sp++;
}

static void enter_head(P *p, int from_tok) {
    ensure_html(p);
    p->head_ser = from_tok ? insert_el_tok(p, T_head)
                           : insert_el(p, T_head);
    p->head_present = 1;
    p->mode = M_HEAD;
}

static void enter_body(P *p, int from_tok) {
    if (from_tok) insert_el_tok(p, T_body);
    else insert_el(p, T_body);
    p->mode = M_BODY;
}

static void dispatch_start(P *p, int tag, int sc, int has_attrs,
                           const uint8_t *name, int nlen) {
    if (p->bail) return;
    p->seen_content = 1;
    if (p->n_pend &&
        (p->mode == M_TABLE || p->mode == M_TBODY || p->mode == M_ROW)) {
        pend_flush(p);
        if (p->bail) return;
    }
    switch (p->mode) {
    case M_TABLE:
        handle_start_table_mode(p, tag, sc, has_attrs, name, nlen);
        goto pending;
    case M_TBODY:
        handle_start_tbody(p, tag, sc, has_attrs, name, nlen);
        goto pending;
    case M_ROW:
        handle_start_row(p, tag, sc, has_attrs, name, nlen);
        goto pending;
    case M_CELL:
        handle_start_cell(p, tag, sc, has_attrs, name, nlen);
        goto pending;
    case M_CAPTION:
        handle_start_caption(p, tag, sc, has_attrs, name, nlen);
        goto pending;
    case M_COLGROUP:
        handle_start_colgroup(p, tag, sc, has_attrs, name, nlen);
        goto pending;
    case M_SELECT:
        handle_start_select(p, tag, sc, has_attrs, name, nlen);
        goto pending;
    case M_SELECT_TB:
        handle_start_select_tb(p, tag, sc, has_attrs, name, nlen);
        goto pending;
    case M_PRE:
        if (tag == T_html) {
            int was = p->have_html;
            ensure_html(p);
            if (!was) scope_on_push(p);       /* <html id=...> */
            else if (has_attrs && p->scope_id && !p->scope_done)
                p->bail = 1;                  /* attr merge could add id */
            return;
        }
        if (tag == T_head) { enter_head(p, 1); return; }
        enter_head(p, 0);
        dispatch_start(p, tag, sc, has_attrs, name, nlen);
        break;
    case M_HEAD:
        if (tag == T_html) return;
        if (tag == T_noscript) {
            insert_el_tok(p, tag);
            p->mode = M_HEADNS;
            return;
        }
        if (to_head_start(p, tag, sc, name, nlen)) return;
        pop_el(p);                    /* pop head */
        p->mode = M_AFTERHEAD;
        dispatch_start(p, tag, sc, has_attrs, name, nlen);
        break;
    case M_HEADNS:
        if (tag == T_html || tag == T_head || tag == T_noscript) return;
        if (tag == T_basefont || tag == T_bgsound || tag == T_link ||
            tag == T_meta) {
            insert_empty_el_tok(p, tag);
            return;
        }
        if (tag == T_noframes || tag == T_style) {
            start_rawtext(p, tag, sc, name, nlen, 0);
            return;
        }
        /* reference InHeadNoscript anything-else renders the TOKEN as a
         * text node ('<img src="foo">' etc.) — needs attr rendering we
         * don't model here -> python kernel */
        p->bail = 1;
        break;
    case M_AFTERHEAD:
        if (tag == T_html || tag == T_head) return;
        if (tag == T_body) { enter_body(p, 1); return; }
        if (tflags(tag) & F_BAIL) { p->bail = 1; return; }
        if (tflags(tag) & F_AHTOHEAD) {
            /* error path: re-enter head for the insert */
            if (p->head_present) {
                push_existing(p, T_head, p->head_ser);
                to_head_start(p, tag, sc, name, nlen);
                if (!p->bail) pop_el(p);   /* remove_from_stack(head) */
            } else {
                to_head_start(p, tag, sc, name, nlen);
            }
            return;
        }
        enter_body(p, 0);
        dispatch_start(p, tag, sc, has_attrs, name, nlen);
        break;
    default:                          /* M_BODY */
        handle_start_body(p, tag, sc, has_attrs, name, nlen);
        goto pending;
    }
    return;
pending:
    if (p->pending_end >= 0 && !p->bail) {
        int t = p->pending_end;
        p->pending_end = -1;
        dispatch_end(p, t);           /* mode-aware (table sc inserts) */
    }
}

static void dispatch_end(P *p, int tag) {
    if (p->bail) return;
    p->seen_content = 1;
    if (p->n_pend &&
        (p->mode == M_TABLE || p->mode == M_TBODY || p->mode == M_ROW)) {
        pend_flush(p);
        if (p->bail) return;
    }
    switch (p->mode) {
    case M_TABLE: handle_end_table_mode(p, tag); return;
    case M_TBODY: handle_end_tbody(p, tag); return;
    case M_ROW: handle_end_row(p, tag); return;
    case M_CELL: handle_end_cell(p, tag); return;
    case M_CAPTION: handle_end_caption(p, tag); return;
    case M_COLGROUP: handle_end_colgroup(p, tag); return;
    case M_SELECT: handle_end_select(p, tag); return;
    case M_SELECT_TB: handle_end_select_tb(p, tag); return;
    case M_PRE:
        if (tag == T_head || tag == T_body || tag == T_html || tag == T_br) {
            enter_head(p, 0);
            dispatch_end(p, tag);
        }
        break;                        /* other end tags ignored */
    case M_HEAD:
        if (tag == T_head) { pop_el(p); p->mode = M_AFTERHEAD; return; }
        if (tag == T_body || tag == T_html || tag == T_br) {
            pop_el(p);
            p->mode = M_AFTERHEAD;
            dispatch_end(p, tag);
            return;
        }
        break;                        /* error, ignore */
    case M_HEADNS:
        if (tag == T_noscript) { pop_el(p); p->mode = M_HEAD; return; }
        if (tag == T_br) { p->bail = 1; return; }  /* renders "</br>" text */
        break;                        /* other end tags: dropped (error) */
        
    case M_AFTERHEAD:
        if (tag == T_body || tag == T_html) {
            enter_body(p, 0);
            dispatch_end(p, tag);
        }
        break;                        /* others ignored */
    default:
        handle_end_body(p, tag);
        break;
    }
}

/* is the (decoded) run whitespace-only per WS = "\t\n\f\r " ? */
static int run_all_ws(P *p, Py_ssize_t a, Py_ssize_t b, int decode) {
    const uint8_t *s = p->s;
    uint8_t dbuf[16];
    while (a < b) {
        uint8_t c = s[a];
        if (c=='\t'||c=='\n'||c=='\f'||c=='\r'||c==' ') { a++; continue; }
        if (c == '&' && decode) {
            Py_ssize_t adv = 0;
            int dl = decode_entity(s, a + 1, p->n, dbuf, &adv);
            if (dl <= 0) return 0;    /* literal '&' */
            for (int k = 0; k < dl; k++) {
                uint8_t d = dbuf[k];
                if (!(d=='\t'||d=='\n'||d=='\f'||d=='\r'||d==' ')) return 0;
            }
            a += 1 + adv;
            continue;
        }
        return 0;
    }
    return 1;
}

/* emit a text node at the current insertion point (head/afterhead:
 * normalized; body: preserve-ws by parent/grandparent) */
static void body_text(P *p, Py_ssize_t a, Py_ssize_t b, int decode) {
    int o = fz_enter(p);                 /* defensive: fz top in body */
    if (p->bail) return;
    reconstruct_fmt(p);
    if (p->bail) { if (o) fz_end(p); return; }
    int parent = p->sp > 0 ? p->st_tag[p->sp - 1] : -1;
    int gp = p->sp > 0 ? p->st_ptag[p->sp - 1] : -1;
    if ((tflags(parent) & F_PRESERVE) || (tflags(gp) & F_PRESERVE))
        emit_preserve(p, a, b, decode);
    else
        emit_norm(p, a, b, decode);
    if (o) fz_end(p);
}

static void dispatch_text(P *p, Py_ssize_t a, Py_ssize_t b, int decode) {
    if (p->bail || a >= b) return;
    switch (p->mode) {
    case M_PRE:
        if (run_all_ws(p, a, b, decode)) return;   /* dropped */
        p->seen_content = 1;
        ensure_html(p);
        push_el(p, T_head);           /* synth head, inserted+popped */
        p->head_ser = p->serial;
        p->head_present = 1;
        pop_el(p);
        enter_body(p, 0);
        body_text(p, a, b, decode);
        break;
    case M_HEAD:
        if (run_all_ws(p, a, b, decode)) {
            emit_norm(p, a, b, decode);            /* text node in head */
            return;
        }
        pop_el(p);                    /* pop head */
        enter_body(p, 0);
        body_text(p, a, b, decode);
        break;
    case M_HEADNS:
        emit_norm(p, a, b, decode);   /* text node inside noscript */
        break;
    case M_AFTERHEAD:
        if (run_all_ws(p, a, b, decode)) {
            emit_norm(p, a, b, decode);            /* text node under html */
            return;
        }
        enter_body(p, 0);
        body_text(p, a, b, decode);
        break;
    case M_TABLE:
    case M_TBODY:
    case M_ROW:
        pend_add(p, a, b, decode);     /* IN_TABLE_TEXT buffering */
        break;
    case M_SELECT:
    case M_SELECT_TB:
        select_text(p, a, b, decode);
        break;
    case M_COLGROUP:
        if (run_all_ws(p, a, b, decode)) {
            emit_norm(p, a, b, decode);           /* ws text in colgroup */
            return;
        }
        if (top_tag(p) == T_html) return;
        pop_el(p);
        p->mode = M_TABLE;
        dispatch_text(p, a, b, decode);
        break;
    default:                           /* M_BODY, M_CAPTION, M_CELL */
        body_text(p, a, b, decode);
        break;
    }
}

/* ---- markup-declaration / bogus-comment position skipping ----------- */

static Py_ssize_t find3(const uint8_t *s, Py_ssize_t n, Py_ssize_t i,
                        const char *pat, int plen) {
    while (i + plen <= n) {
        const uint8_t *hit = memchr(s + i, pat[0], n - i - plen + 1);
        if (!hit) return -1;
        Py_ssize_t k = hit - s;
        if (memcmp(s + k, pat, plen) == 0) return k;
        i = k + 1;
    }
    return -1;
}

/* tokenizer._comment: i is just past "<!--" */
static void skip_comment(P *p, Py_ssize_t i) {
    const uint8_t *s = p->s; Py_ssize_t n = p->n;
    if (i < n && s[i] == '>') { p->pos = i + 1; return; }
    if (i + 1 < n && s[i] == '-' && s[i + 1] == '>') { p->pos = i + 2; return; }
    Py_ssize_t p1 = find3(s, n, i, "-->", 3);
    Py_ssize_t p2 = find3(s, n, i, "--!>", 4);
    if (p2 >= 0 && (p1 < 0 || p2 < p1)) p->pos = p2 + 4;
    else if (p1 >= 0) p->pos = p1 + 3;
    else p->pos = n;
}

static void skip_bogus_comment(P *p, Py_ssize_t i) {
    const uint8_t *hit = memchr(p->s + i, '>', p->n - i);
    p->pos = hit ? (hit - p->s) + 1 : p->n;
}

static Py_ssize_t skip_ws_bytes(const uint8_t *s, Py_ssize_t n, Py_ssize_t j) {
    while (j < n && (s[j]=='\t'||s[j]=='\n'||s[j]=='\f'||s[j]=='\r'||s[j]==' '))
        j++;
    return j;
}

/* tokenizer._doctype quoted-string skip: returns next pos */
static Py_ssize_t doctype_quoted2(const uint8_t *s, Py_ssize_t n,
                                  Py_ssize_t j, int *found) {
    j = skip_ws_bytes(s, n, j);
    if (j < n && (s[j] == '"' || s[j] == '\'')) {
        const uint8_t *k = memchr(s + j + 1, s[j], n - j - 1);
        if (found) *found = 1;
        return k ? (k - s) + 1 : n;
    }
    if (found) *found = 0;
    return j;
}

static Py_ssize_t doctype_quoted(const uint8_t *s, Py_ssize_t n,
                                 Py_ssize_t j) {
    return doctype_quoted2(s, n, j, NULL);
}

/* tokenizer._doctype: i is just past "<!doctype" (7 chars after "<!").
 * Also mirrors the force-quirks computation: a malformed doctype in the
 * INITIAL state sets quirks mode, which changes whether <table> closes
 * an open <p> (treebuilder._in_body_start table branch). */
static void skip_doctype(P *p, Py_ssize_t i) {
    const uint8_t *s = p->s; Py_ssize_t n = p->n;
    int fq = 0;
    Py_ssize_t j = skip_ws_bytes(s, n, i);
    if (j >= n || s[j] == '>') {
        p->pos = j >= n ? n : j + 1;
        fq = 1;
        goto record;
    }
    while (j < n) {                       /* doctype name [^\t\n\f\r >]+ */
        uint8_t c = s[j];
        if (c=='\t'||c=='\n'||c=='\f'||c=='\r'||c==' '||c=='>') break;
        j++;
    }
    j = skip_ws_bytes(s, n, j);
    if (j < n && s[j] != '>') {
        if (j + 6 <= n && strncasecmp((const char *)s + j, "public", 6) == 0) {
            int found;
            Py_ssize_t j2 = doctype_quoted2(s, n, j + 6, &found);
            if (!found) fq = 1;           /* no quoted public id */
            j = doctype_quoted(s, n, j2);
        } else if (j + 6 <= n &&
                   strncasecmp((const char *)s + j, "system", 6) == 0) {
            int found;
            Py_ssize_t j2 = doctype_quoted2(s, n, j + 6, &found);
            if (!found) fq = 1;           /* no quoted system id */
            j = j2;
        } else {
            fq = 1;                        /* unknown keyword */
        }
    }
    {
        const uint8_t *gt = memchr(s + j, '>', n - j);
        if (!gt) fq = 1;
        p->pos = gt ? (gt - s) + 1 : n;
    }
record:
    /* only the INITIAL-state doctype counts (treebuilder._initial) */
    if (!p->seen_content && !p->seen_doctype) {
        p->seen_doctype = 1;
        if (fq) p->quirks = 1;
    }
}

/* ---- the tag-open scanner (tokenizer._tag_open / _end_tag) ---------- */

/* on entry p->pos is at '<' and the next char is tagish */
static void handle_tag(P *p) {
    const uint8_t *s = p->s; Py_ssize_t n = p->n;
    Py_ssize_t i = p->pos + 1;
    uint8_t c = s[i];
    uint8_t nbuf[MAXTAGLEN + 1];
    /* comment/doctype/bogus tokens are skipped (no text effect) but
     * they are still TOKENS: pending table text flushes on any
     * non-char token (treebuilder IN_TABLE_TEXT), which decides the
     * ws-only-vs-foster grouping.  Flush before skipping. */
    if ((c == '!' || c == '?') && p->n_pend &&
        (p->mode == M_TABLE || p->mode == M_TBODY || p->mode == M_ROW)) {
        if (!(c == '!' && i + 8 <= n && memcmp(s + i + 1, "[CDATA[", 7) == 0)) {
            pend_flush(p);
            if (p->bail) return;
        }
    }
    if (c == '!') {
        i++;
        if (i + 1 < n && s[i] == '-' && s[i + 1] == '-') {
            skip_comment(p, i + 2);
            return;
        }
        if (i + 7 <= n && strncasecmp((const char *)s + i, "doctype", 7) == 0) {
            skip_doctype(p, i + 7);
            return;  /* doctype token: ignored in every fast-path mode */
        }
        if (i + 7 <= n && memcmp(s + i, "[CDATA[", 7) == 0) {
            Py_ssize_t k = find3(s, n, i + 7, "]]>", 3);
            Py_ssize_t a = i + 7, b = k < 0 ? n : k;
            p->pos = k < 0 ? n : k + 3;
            dispatch_text(p, a, b, 0);   /* cdata -> char, no decode */
            return;
        }
        skip_bogus_comment(p, i);
        return;
    }
    if (c == '?') { skip_bogus_comment(p, i); return; }
    if (c == '/') {
        i++;
        if (i >= n) {
            /* tokenizer._end_tag: EOF right after "</" -> literal text */
            p->pos = n;
            dispatch_text(p, n - 2, n, 0);
            return;
        }
        c = s[i];
        if (c == '>') { p->pos = i + 1; return; }    /* '</>' ignored */
        if (!((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z'))) {
            skip_bogus_comment(p, i);
            return;
        }
        int len = 0;
        while (i < n) {
            c = s[i];
            if (c=='\t'||c=='\n'||c=='\f'||c=='\r'||c==' '||c=='/'||c=='>')
                break;
            if (c >= 0x80 || len >= MAXTAGLEN) { p->bail = 1; return; }
            nbuf[len++] = (c >= 'A' && c <= 'Z') ? c + 32 : c;
            i++;
        }
        int sc, eof;
        Py_ssize_t nx = skip_attrs(p, i, &sc, &eof, NULL, 0);
        if (eof) { p->pos = n; return; }             /* token dropped */
        p->pos = nx;
        {
            int tag = intern_tag(p, nbuf, len);
            if (p->bail) return;
            dispatch_end(p, tag);
        }
        return;
    }
    /* start tag */
    {
        int len = 0;
        while (i < n) {
            c = s[i];
            if (c=='\t'||c=='\n'||c=='\f'||c=='\r'||c==' '||c=='/'||c=='>')
                break;
            if (c >= 0x80 || len >= MAXTAGLEN) { p->bail = 1; return; }
            nbuf[len++] = (c >= 'A' && c <= 'Z') ? c + 32 : c;
            i++;
        }
        int sc, eof, has_attrs;
        p->pid_valid = 0;
        Py_ssize_t nx = skip_attrs(p, i, &sc, &eof, &has_attrs,
                                   p->scope_id && !p->scope_done);
        if (eof) { p->pos = n; return; }             /* token dropped */
        p->pos = nx;
        /* raw attr-span hash: byte-identical spans parse to equal attr
         * dicts (the converse does not hold) — see push_fmt's ark */
        p->cur_ahash = has_attrs ? fnv1a(s + i, nx - i) : 0;
        {
            int tag = intern_tag(p, nbuf, len);
            if (p->bail) return;
            dispatch_start(p, tag, sc, has_attrs, nbuf, len);
        }
    }
}

/* ---- main loop (tokenizer._data) ------------------------------------ */

/* EOF while still inside <noscript> renders the reference's "EOF"
 * token-toString artifact as text — python kernel handles it */
static void run_parse(P *p) {
    const uint8_t *s = p->s; Py_ssize_t n = p->n;
    Py_ssize_t start = p->pos, scan = p->pos;
    while (!p->bail) {
        if (scan >= n) {
            if (start < n) dispatch_text(p, start, n, 1);
            if (p->mode == M_HEADNS) p->bail = 1;
            p->pos = n;
            return;
        }
        const uint8_t *lt = memchr(s + scan, '<', n - scan);
        if (!lt) {
            dispatch_text(p, start, n, 1);
            if (p->mode == M_HEADNS) p->bail = 1;
            p->pos = n;
            return;
        }
        Py_ssize_t k = lt - s;
        uint8_t c = (k + 1 < n) ? s[k + 1] : 0;
        if (((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')) ||
            c == '!' || c == '/' || c == '?') {
            if (k > start) dispatch_text(p, start, k, 1);
            if (p->bail) return;
            p->pos = k;
            handle_tag(p);
            if (p->bail) return;
            if (p->scope_active && on_stack_ser(p, p->scope_ser) < 0) {
                p->scope_b = p->olen;
                p->scope_active = 0;
                if (p->title_set) { p->pos = p->n; return; }  /* all done */
            }
            start = scan = p->pos;
        } else {
            scan = k + 1;    /* literal '<' stays in the text run */
        }
    }
}

/* Document.title() normalization: entity-decode the rcdata span, then
 * collapse [\t\n\f\r \xa0]+ runs to one space and strip both ends.
 * Writes into dst, returns length. dst cap must be >= 2*(b-a)+16. */
static Py_ssize_t normalize_title(const uint8_t *s, Py_ssize_t a, Py_ssize_t b,
                                  Py_ssize_t n, uint8_t *dst) {
    Py_ssize_t o = 0;
    int pend = 0, started = 0;
    uint8_t dbuf[16];
    while (a < b) {
        uint8_t c = s[a];
        uint8_t dl8[16]; int dl; Py_ssize_t adv;
        const uint8_t *chunk; int chunklen;
        if (c == '&') {
            adv = 0;
            dl = decode_entity(s, a + 1, n, dl8, &adv);
            if (dl <= 0) { dl8[0] = '&'; dl = 1; a++; }
            else a += 1 + adv;
            chunk = dl8; chunklen = dl;
        } else {
            dbuf[0] = c; chunk = dbuf; chunklen = 1; a++;
        }
        for (int k = 0; k < chunklen; k++) {
            uint8_t d = chunk[k];
            if (d=='\t'||d=='\n'||d=='\f'||d=='\r'||d==' ') { pend = 1; continue; }
            if (d == 0xC2) {
                /* peek: nbsp pair inside chunk or source */
                if (k + 1 < chunklen && chunk[k+1] == 0xA0) { pend = 1; k++; continue; }
                if (chunk == dbuf && a < b && s[a] == 0xA0) { pend = 1; a++; continue; }
            }
            if (pend && started) dst[o++] = ' ';
            pend = 0;
            dst[o++] = d;
            started = 1;
        }
    }
    return o;
}

/* ---- Python entry points -------------------------------------------- */

/* decode an rcdata span (title) with entities, return bytes object */
static PyObject *decode_span(const uint8_t *s, Py_ssize_t a, Py_ssize_t b,
                             Py_ssize_t n) {
    Py_ssize_t cap = 2 * (b - a) + 16;
    uint8_t *buf = PyMem_Malloc(cap);
    if (!buf) return PyErr_NoMemory();
    Py_ssize_t o = 0;
    uint8_t dbuf[16];
    while (a < b) {
        const uint8_t *amp = memchr(s + a, '&', b - a);
        Py_ssize_t stop = amp ? (amp - s) : b;
        if (stop > a) { memcpy(buf + o, s + a, stop - a); o += stop - a; a = stop; }
        if (a >= b) break;
        Py_ssize_t adv = 0;
        int dl = decode_entity(s, a + 1, n, dbuf, &adv);
        if (dl <= 0) { buf[o++] = '&'; a++; }
        else { memcpy(buf + o, dbuf, dl); o += dl; a += 1 + adv; }
    }
    PyObject *r = PyUnicode_DecodeUTF8((const char *)buf, o, "replace");
    PyMem_Free(buf);
    return r;
}

static PyObject *py_doc_text(PyObject *self, PyObject *args) {
    PyObject *in;
    const char *scope = NULL;
    Py_ssize_t scope_len = 0;
    if (!PyArg_ParseTuple(args, "U|z#", &in, &scope, &scope_len)) return NULL;
    if (!g_ready) {
        PyErr_SetString(PyExc_RuntimeError, "init_tables not called");
        return NULL;
    }
    Py_ssize_t n;
    const char *u8 = PyUnicode_AsUTF8AndSize(in, &n);
    if (!u8) return NULL;
    if (memchr(u8, 0, n)) Py_RETURN_NONE;       /* NUL -> python kernel */

    P *p = PyMem_Calloc(1, sizeof(P));
    if (!p) return PyErr_NoMemory();
    p->s = (const uint8_t *)u8;
    p->n = n;
    p->out = PyMem_Malloc(2 * n + 64);
    if (!p->out) { PyMem_Free(p); return PyErr_NoMemory(); }
    p->out_cap = 2 * n + 64;
    p->mode = M_PRE;
    p->pending_end = -1;
    if (scope && scope_len > 0) {
        p->scope_id = (const uint8_t *)scope;
        p->scope_id_len = (int)scope_len;
    } else {
        scope = NULL;
    }

    run_parse(p);
    if (!p->bail && p->n_pend) pend_flush(p);   /* EOF flush */
    if (!p->bail && p->scope_active) {       /* EOF with scope open */
        p->scope_b = p->olen;
        p->scope_active = 0;
    }

    PyObject *result = NULL;
    if (p->bail) {
        result = Py_None;
        Py_INCREF(result);
    } else {
        /* final strip of " \t\n\f\r" (arena.node_text _ASCII_WS) */
        Py_ssize_t a = 0, b = p->olen;
        if (scope) {
            if (p->scope_done) { a = p->scope_a; b = p->scope_b; }
            else { a = b = 0; }                  /* no match -> "" */
        }
        while (a < b) {
            uint8_t c = p->out[a];
            if (c=='\t'||c=='\n'||c=='\f'||c=='\r'||c==' ') a++;
            else break;
        }
        while (b > a) {
            uint8_t c = p->out[b - 1];
            if (c=='\t'||c=='\n'||c=='\f'||c=='\r'||c==' ') b--;
            else break;
        }
        PyObject *text = PyUnicode_DecodeUTF8((const char *)p->out + a,
                                              b - a, "replace");
        PyObject *title;
        if (p->title_set) {
            Py_ssize_t cap = 2 * (p->title_b - p->title_a) + 16;
            uint8_t *tb = PyMem_Malloc(cap);
            if (!tb) { PyMem_Free(p->scratch); PyMem_Free(p->out); PyMem_Free(p); return PyErr_NoMemory(); }
            Py_ssize_t tl = normalize_title(p->s, p->title_a, p->title_b,
                                            p->n, tb);
            title = PyUnicode_DecodeUTF8((const char *)tb, tl, "replace");
            PyMem_Free(tb);
        }
        else {
            title = Py_None;
            Py_INCREF(title);
        }
        if (text && title) result = PyTuple_Pack(2, text, title);
        Py_XDECREF(text);
        Py_XDECREF(title);
    }
    PyMem_Free(p->scratch);
    PyMem_Free(p->out);
    PyMem_Free(p);
    return result;
}

/* one Arrow string or binary column's raw buffers; an empty validity
 * buffer means no nulls */
typedef struct {
    Py_buffer data, offs, valid;
    Py_ssize_t arr_offset;
    int large;
} ArrowStr;

static int as_row(const ArrowStr *c, Py_ssize_t i, const uint8_t **s,
                  size_t *len) {
    Py_ssize_t j = c->arr_offset + i;
    if (c->valid.len &&
        !(((const uint8_t *)c->valid.buf)[j >> 3] & (1 << (j & 7))))
        return 0;
    Py_ssize_t s0, s1;
    if (c->large) {
        s0 = ((const int64_t *)c->offs.buf)[j];
        s1 = ((const int64_t *)c->offs.buf)[j + 1];
    } else {
        s0 = ((const int32_t *)c->offs.buf)[j];
        s1 = ((const int32_t *)c->offs.buf)[j + 1];
    }
    *s = (const uint8_t *)c->data.buf + s0;
    *len = (size_t)(s1 - s0);
    return 1;
}

/* ---- the UTF-8 gate over binary html (api.decode_html's UTF-8 outcome) ----
 * api.decode_html reads a UTF-8 BOM, then a UTF-16 BOM, then the first
 * ``<meta ... charset=label`` of the first 1,024 bytes (_META_CHARSET),
 * else defaults to UTF-8. The gate reproduces those checks and accepts a
 * doc only when the decode is exactly its bytes read as UTF-8: no BOM or
 * a UTF-8 BOM, no label or one of ``labels`` (every lower-case spelling
 * that codecs.lookup maps to utf-8), valid UTF-8, no NUL byte. Anything
 * else, a label the 1,024-byte head may cut included, is refused and
 * decoded in Python. */

#define GATE_REFUSED 255

/* case-insensitive match of the lower-case ASCII word ``w`` at ``s`` */
static int ci_word(const uint8_t *s, const char *w, int n) {
    for (int k = 0; k < n; k++)
        if ((s[k] | 0x20) != (uint8_t)w[k]) return 0;
    return 1;
}

static int re_space(uint8_t c) {   /* \s of a bytes pattern */
    return c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f' ||
           c == '\v';
}

static int label_ch(uint8_t c) {   /* [a-zA-Z0-9_\-] */
    return (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
           (c >= '0' && c <= '9') || c == '_' || c == '-';
}

/* re.search of _META_CHARSET,
 *   <meta[^>]+charset\s*=\s*["']?\s*([a-zA-Z0-9_\-]+)   (re.I)
 * over h[0..hn): the leftmost ``<meta`` with a match wins, and within it
 * the greedy [^>]+ makes the last ``charset`` before the tag's first
 * '>' win. Returns 1 with the label at [*ls, *le), else 0. */
static int meta_charset(const uint8_t *h, Py_ssize_t hn, Py_ssize_t *ls,
                        Py_ssize_t *le) {
    for (Py_ssize_t p = 0; p + 5 <= hn; p++) {
        const uint8_t *lt = memchr(h + p, '<', (size_t)(hn - p));
        if (!lt) return 0;
        p = lt - h;
        if (p + 5 > hn || !ci_word(h + p + 1, "meta", 4)) continue;
        Py_ssize_t g = p + 5;                 /* the tag's first '>' */
        while (g < hn && h[g] != '>') g++;
        for (Py_ssize_t q = g - 7; q > p + 5; q--) {
            if (!ci_word(h + q, "charset", 7)) continue;
            Py_ssize_t k = q + 7;
            while (k < hn && re_space(h[k])) k++;
            if (k >= hn || h[k] != '=') continue;
            k++;
            while (k < hn && re_space(h[k])) k++;
            if (k < hn && (h[k] == '"' || h[k] == '\'')) {
                k++;
                while (k < hn && re_space(h[k])) k++;
            }
            if (k >= hn || !label_ch(h[k])) continue;
            *ls = k;
            while (k < hn && label_ch(h[k])) k++;
            *le = k;
            return 1;
        }
    }
    return 0;
}

/* 1 when s[0..n) is what CPython's strict UTF-8 decoder accepts: no
 * overlong form, no surrogate, nothing above U+10FFFF */
static int utf8_valid(const uint8_t *s, Py_ssize_t n) {
    Py_ssize_t i = 0;
    while (i < n) {
        while (i + 8 <= n) {                  /* ASCII, 8 bytes a step */
            uint64_t v;
            memcpy(&v, s + i, 8);
            if (v & 0x8080808080808080ULL) break;
            i += 8;
        }
        if (i >= n) break;
        uint8_t c = s[i];
        if (c < 0x80) { i++; continue; }
        int len = c < 0xC2 ? 0 : c < 0xE0 ? 2 : c < 0xF0 ? 3 : c < 0xF5 ? 4 : 0;
        if (!len || i + len > n) return 0;
        for (int k = 1; k < len; k++)
            if ((s[i + k] & 0xC0) != 0x80) return 0;
        uint8_t c1 = s[i + 1];
        if ((c == 0xE0 && c1 < 0xA0) || (c == 0xED && c1 > 0x9F) ||
            (c == 0xF0 && c1 < 0x90) || (c == 0xF4 && c1 > 0x8F))
            return 0;
        i += len;
    }
    return 1;
}

/* the gate on one doc: where its UTF-8 text starts (0, or 3 after a
 * UTF-8 BOM), or GATE_REFUSED. ``labels`` is a tuple of lower-case
 * bytes. */
static int gate_doc(const uint8_t *d, Py_ssize_t n, PyObject *labels) {
    int skip = 0;
    /* a UTF-16 BOM (FF FE, FE FF) is never valid UTF-8: the validation
     * below refuses it */
    if (n >= 3 && d[0] == 0xEF && d[1] == 0xBB && d[2] == 0xBF) {
        skip = 3;                             /* the BOM wins */
    } else {
        Py_ssize_t hn = n < 1024 ? n : 1024, ls, le;
        if (meta_charset(d, hn, &ls, &le)) {
            if (le == hn && hn < n) return GATE_REFUSED;   /* maybe cut */
            uint8_t low[32];
            Py_ssize_t ln = le - ls;
            if (ln > (Py_ssize_t)sizeof(low)) return GATE_REFUSED;
            for (Py_ssize_t k = 0; k < ln; k++) {
                uint8_t c = d[ls + k];
                low[k] = (c >= 'A' && c <= 'Z') ? (uint8_t)(c | 0x20) : c;
            }
            int known = 0;
            for (Py_ssize_t k = 0; k < PyTuple_GET_SIZE(labels) && !known;
                 k++) {
                PyObject *lab = PyTuple_GET_ITEM(labels, k);
                known = PyBytes_Check(lab) && PyBytes_GET_SIZE(lab) == ln &&
                        memcmp(PyBytes_AS_STRING(lab), low, (size_t)ln) == 0;
            }
            if (!known) return GATE_REFUSED;
        }
    }
    if (memchr(d + skip, 0, (size_t)(n - skip))) return GATE_REFUSED;
    return utf8_valid(d + skip, n - skip) ? skip : GATE_REFUSED;
}

/* utf8_gate(data, offsets, validity, arr_offset, large, n,
 *           labels: tuple[bytes, ...]) -> bytes[n]
 *
 * Per row of an Arrow binary / large_binary column, gate_doc's outcome;
 * a null row reads 0 (its doc is ""). */
static PyObject *py_utf8_gate(PyObject *self, PyObject *args) {
    ArrowStr col;
    Py_ssize_t n;
    PyObject *labels;
    if (!PyArg_ParseTuple(args, "y*y*y*npnO!", &col.data, &col.offs,
                          &col.valid, &col.arr_offset, &col.large, &n,
                          &PyTuple_Type, &labels))
        return NULL;
    PyObject *r = PyBytes_FromStringAndSize(NULL, n);
    if (r) {
        uint8_t *out = (uint8_t *)PyBytes_AS_STRING(r);
        for (Py_ssize_t i = 0; i < n; i++) {
            const uint8_t *d;
            size_t len;
            out[i] = as_row(&col, i, &d, &len)
                ? (uint8_t)gate_doc(d, (Py_ssize_t)len, labels) : 0;
        }
    }
    PyBuffer_Release(&col.data); PyBuffer_Release(&col.offs);
    PyBuffer_Release(&col.valid);
    return r;
}

/* batch_extract(data, offsets, validity, arr_offset, large, n,
 *               scope_id|None, skip|None, decoded|None) ->
 *   (text_data: bytes, text_offsets: bytes[int32 (n+1)],
 *    title_data: bytes, title_offsets: bytes[int32 (n+1)],
 *    bail_mask: bytes[n], n_bails: int)
 *
 * Zero-copy batch interface over an Arrow string or binary column's raw
 * buffers: no per-row Python objects on input, and the outputs are
 * ready-made Arrow utf8 buffers (pa.StringArray.from_buffers on the
 * Python side). A null row reads as "". For a binary column, ``skip`` is
 * utf8_gate's outcome: an accepted row is parsed in place from its
 * skip-th byte on, and a refused row from the next str of ``decoded``
 * (api.decode_html of the refused rows, in row order). Rows that bail get
 * empty outputs and a set mask bit; the caller re-runs only those
 * through the later tiers. */
static PyObject *py_batch_extract(PyObject *self, PyObject *args) {
    ArrowStr col;
    Py_ssize_t n;
    const char *scope = NULL;
    Py_ssize_t scope_len = 0;
    PyObject *skip_o = Py_None, *decoded = Py_None;
    if (!PyArg_ParseTuple(args, "y*y*y*npn|z#OO", &col.data, &col.offs,
                          &col.valid, &col.arr_offset, &col.large, &n,
                          &scope, &scope_len, &skip_o, &decoded))
        return NULL;
    if (scope && scope_len == 0) scope = NULL;
    const uint8_t *skip = NULL;
    Py_ssize_t n_dec = 0;
    if (skip_o != Py_None) {
        if (!PyBytes_Check(skip_o) || PyBytes_GET_SIZE(skip_o) != n ||
            !PyList_Check(decoded)) {
            PyBuffer_Release(&col.data); PyBuffer_Release(&col.offs);
            PyBuffer_Release(&col.valid);
            PyErr_SetString(PyExc_TypeError,
                            "skip must be bytes[n] and decoded a list");
            return NULL;
        }
        skip = (const uint8_t *)PyBytes_AS_STRING(skip_o);
        n_dec = PyList_GET_SIZE(decoded);
    }
    if (!g_ready) {
        PyBuffer_Release(&col.data); PyBuffer_Release(&col.offs);
        PyBuffer_Release(&col.valid);
        PyErr_SetString(PyExc_RuntimeError, "init_tables not called");
        return NULL;
    }

    Py_ssize_t total_in = 0;
    for (Py_ssize_t i = 0; i < n; i++) {
        const uint8_t *d;
        size_t len;
        if (as_row(&col, i, &d, &len)) total_in += (Py_ssize_t)len;
    }
    for (Py_ssize_t k = 0; k < n_dec; k++) {
        PyObject *u = PyList_GET_ITEM(decoded, k);
        if (PyUnicode_Check(u)) total_in += 4 * PyUnicode_GET_LENGTH(u);
    }

    if (2 * total_in + 64 * (n + 1) > 2000000000L) {
        /* int32 Arrow offsets would overflow; caller falls back */
        PyBuffer_Release(&col.data); PyBuffer_Release(&col.offs);
        PyBuffer_Release(&col.valid);
        PyErr_SetString(PyExc_OverflowError, "batch too large");
        return NULL;
    }
    Py_ssize_t tcap = 2 * total_in + 64 * (n + 1);
    uint8_t *text_data = PyMem_Malloc(tcap);
    int32_t *text_off = PyMem_Malloc((n + 1) * sizeof(int32_t));
    uint8_t *title_data = PyMem_Malloc(tcap);
    int32_t *title_off = PyMem_Malloc((n + 1) * sizeof(int32_t));
    uint8_t *mask = PyMem_Malloc(n > 0 ? n : 1);
    P *p = PyMem_Malloc(sizeof(P));
    if (p) { p->scratch = NULL; p->scratch_cap = 0; }
    if (!text_data || !text_off || !title_data || !title_off || !mask || !p) {
        PyBuffer_Release(&col.data); PyBuffer_Release(&col.offs);
        PyBuffer_Release(&col.valid);
        PyMem_Free(text_data); PyMem_Free(text_off); PyMem_Free(title_data);
        PyMem_Free(title_off); PyMem_Free(mask); PyMem_Free(p);
        return PyErr_NoMemory();
    }
    Py_ssize_t tpos = 0, dpos = 0, k_dec = 0;
    long n_bails = 0;
    text_off[0] = 0; title_off[0] = 0;

    for (Py_ssize_t i = 0; i < n; i++) {
        const uint8_t *doc = (const uint8_t *)"";
        size_t len = 0;
        int have = 1;
        if (as_row(&col, i, &doc, &len) && skip) {
            if (skip[i] == GATE_REFUSED) {
                Py_ssize_t ulen = 0;
                const char *u = NULL;
                PyObject *s = k_dec < n_dec ? PyList_GET_ITEM(decoded, k_dec)
                                            : NULL;
                k_dec++;
                if (s && PyUnicode_Check(s))
                    u = PyUnicode_AsUTF8AndSize(s, &ulen);
                if (u) { doc = (const uint8_t *)u; len = (size_t)ulen; }
                else { PyErr_Clear(); have = 0; }   /* -> a later tier */
            } else {
                doc += skip[i];
                len -= skip[i];
            }
        }
        Py_ssize_t dlen = (Py_ssize_t)len;
        int bailed = 1;
        if (have && !memchr(doc, 0, dlen)) {
            memset(p, 0, offsetof(P, unk_names));
            p->n_unk = 0;
            p->s = doc; p->n = dlen;
            p->out = text_data + tpos;
            p->out_cap = 2 * dlen + 64;
            p->mode = M_PRE;
            p->pending_end = -1;
            if (scope) {
                p->scope_id = (const uint8_t *)scope;
                p->scope_id_len = (int)scope_len;
            }
            run_parse(p);
            if (!p->bail && p->n_pend) pend_flush(p);
            if (!p->bail && p->scope_active) {
                p->scope_b = p->olen;
                p->scope_active = 0;
            }
            if (!p->bail) {
                bailed = 0;
                /* final strip (arena.node_text) */
                Py_ssize_t a = 0, b = p->olen;
                if (scope) {
                    if (p->scope_done) { a = p->scope_a; b = p->scope_b; }
                    else { a = b = 0; }
                }
                while (a < b) {
                    uint8_t c = p->out[a];
                    if (c=='\t'||c=='\n'||c=='\f'||c=='\r'||c==' ') a++;
                    else break;
                }
                while (b > a) {
                    uint8_t c = p->out[b - 1];
                    if (c=='\t'||c=='\n'||c=='\f'||c=='\r'||c==' ') b--;
                    else break;
                }
                if (a > 0) memmove(p->out, p->out + a, b - a);
                tpos += b - a;
                if (p->title_set)
                    dpos += normalize_title(doc, p->title_a, p->title_b,
                                            dlen, title_data + dpos);
            }
        }
        mask[i] = (uint8_t)bailed;
        if (bailed) n_bails++;
        text_off[i + 1] = (int32_t)tpos;
        title_off[i + 1] = (int32_t)dpos;
    }
    PyBuffer_Release(&col.data); PyBuffer_Release(&col.offs);
    PyBuffer_Release(&col.valid);

    PyObject *r = Py_BuildValue(
        "y#y#y#y#y#l",
        (const char *)text_data, tpos,
        (const char *)text_off, (Py_ssize_t)((n + 1) * sizeof(int32_t)),
        (const char *)title_data, dpos,
        (const char *)title_off, (Py_ssize_t)((n + 1) * sizeof(int32_t)),
        (const char *)mask, n,
        n_bails);
    PyMem_Free(text_data); PyMem_Free(text_off); PyMem_Free(title_data);
    PyMem_Free(title_off); PyMem_Free(mask);
    PyMem_Free(p->scratch); PyMem_Free(p);
    return r;
}

/* ====================================================================
 * Arena builder: full WHATWG tree construction in C, producing the
 * EXACT flat-arena columns of the Python kernel (kernel/tokenizer.py +
 * kernel/treebuilder.py + kernel/arena.py) — parent / ntype / tag /
 * text / attrs / children / selfclosing / quirks / errors / form
 * controls / source spans.  Unlike the streaming extractor above
 * (which fuses parse+text and must bail on subtree-reordering
 * repairs), this builder MATERIALIZES nodes, so adoption agency,
 * foster parenting and frameset all run the real algorithms; it bails
 * only on: NUL bytes, >MAXUNK (64) distinct unknown tags, open-element
 * depth above AB_MAXDEPTH (2048), an internal limit (a name over
 * AB_MAXNAME bytes, a full token or formatting queue) and allocation
 * failure.  Non-ASCII tag/attr names are lower-cased with Python's
 * str.lower() (ab_lower_name), and the InHeadNoscript branch runs in C.
 * Byte-for-byte arena equality with HtmlTreeBuilder().parse() is
 * enforced by tests/test_arena_build.py differential fuzzing.
 *
 * Reference semantics (parity anchors, same as the Python kernel):
 *   /root/reference/Sources/HtmlTreeBuilderState.swift (23 modes)
 *   /root/reference/Sources/HtmlTreeBuilder.swift (stack/fmt ops)
 *   /root/reference/Sources/Tokeniser.swift, TokeniserState.swift
 * ==================================================================== */

/* python TagRegistry ids aligned with the C tag-id space */
static int g_pyid_by_id[UNK_BASE];
static int g_pyids_ready = 0;

/* reverse tag index: C id -> name (filled by init_tables) */
static const char *g_tagname_by_id[UNK_BASE];
static int g_tagnamelen_by_id[UNK_BASE];

static PyObject *py_init_pyids(PyObject *self, PyObject *args) {
    PyObject *lst;
    if (!PyArg_ParseTuple(args, "O", &lst)) return NULL;
    Py_ssize_t n = PyList_Size(lst);
    if (n > UNK_BASE) n = UNK_BASE;
    for (Py_ssize_t i = 0; i < n; i++)
        g_pyid_by_id[i] = (int)PyLong_AsLong(PyList_GetItem(lst, i));
    g_pyids_ready = 1;
    Py_RETURN_NONE;
}

/* ---- small int vector ---- */
typedef struct { int *d; int len, cap; } IVec;

static int iv_reserve(IVec *v, int need) {
    if (v->len + need <= v->cap) return 1;
    int nc = v->cap ? v->cap * 2 : 8;
    while (nc < v->len + need) nc *= 2;
    int *nd = (int *)PyMem_Realloc(v->d, (size_t)nc * sizeof(int));
    if (!nd) return 0;
    v->d = nd; v->cap = nc;
    return 1;
}
static int iv_push(IVec *v, int x) {
    if (!iv_reserve(v, 1)) return 0;
    v->d[v->len++] = x;
    return 1;
}
static int iv_insert(IVec *v, int idx, int x) {
    if (!iv_reserve(v, 1)) return 0;
    memmove(v->d + idx + 1, v->d + idx, (size_t)(v->len - idx) * sizeof(int));
    v->d[idx] = x; v->len++;
    return 1;
}
static void iv_remove_at(IVec *v, int idx) {
    memmove(v->d + idx, v->d + idx + 1,
            (size_t)(v->len - idx - 1) * sizeof(int));
    v->len--;
}
static int iv_index(const IVec *v, int x) {
    for (int i = 0; i < v->len; i++) if (v->d[i] == x) return i;
    return -1;
}
static void iv_free(IVec *v) { PyMem_Free(v->d); v->d = NULL; v->len = v->cap = 0; }

/* ---- node / attr records ---- */
typedef struct {
    int key_off, key_len;       /* into pool */
    int val_off, val_len;       /* val_off < 0 => valueless (None) */
} BAttr2;

/* node types — MUST match kernel/arena.py */
#define NT_DOCUMENT 0
#define NT_ELEMENT  1
#define NT_TEXT     2
#define NT_DATA     3
#define NT_COMMENT  4
#define NT_DOCTYPE  5

typedef struct {
    int8_t ntype;
    int tag;                     /* C tag id; >=UNK_BASE unknown; -1 none */
    int parent;
    int text_off, text_len;      /* -1 len => None */
    int attr_off, attr_n;        /* into ab->attrs */
    int src_start, src_end;      /* char offsets; -1 untracked */
    int src_close;               /* subtree-complete end offset; -1
                                  * incomplete, -2 never (foster) —
                                  * mirrors arena.src_close */
    IVec kids;
} ANode;

/* token kinds */
#define AK_CHAR    0
#define AK_DATA    1
#define AK_CDATA   2
#define AK_START   3
#define AK_END     4
#define AK_COMMENT 5
#define AK_DOCTYPE 6
#define AK_EOF     7

typedef struct {
    uint8_t kind;
    int tag;
    int text_off, text_len;      /* char/data/cdata/comment text; doctype name */
    int attr_off, attr_n;
    uint8_t sc;
    int pub_off, pub_len, sys_off, sys_len;  /* doctype; len -1 => None */
    uint8_t fq;
} Tok2;

/* raw modes */
#define RM_NONE      0
#define RM_RCDATA    1
#define RM_RAWTEXT   2
#define RM_SCRIPT    3
#define RM_PLAINTEXT 4

/* insertion modes — MUST match kernel/treebuilder.py ordering */
enum {
    M_INITIAL, M_BEFORE_HTML, M_BEFORE_HEAD, M_IN_HEAD, M_IN_HEAD_NOSCRIPT,
    M_AFTER_HEAD, M_IN_BODY, M_TEXT, M_IN_TABLE, M_IN_TABLE_TEXT,
    M_IN_CAPTION, M_IN_COLUMN_GROUP, M_IN_TABLE_BODY, M_IN_ROW, M_IN_CELL,
    M_IN_SELECT, M_IN_SELECT_IN_TABLE, M_AFTER_BODY, M_IN_FRAMESET,
    M_AFTER_FRAMESET, M_AFTER_AFTER_BODY, M_AFTER_AFTER_FRAMESET, M_FOREIGN
};

#define AB_MAXPEND 8
#define AB_MAXDEPTH 2048   /* open-element depth cap (heap IVec; far beyond real pages) */
#define AB_MAXTBLPEND 64

typedef struct {
    const uint8_t *s; Py_ssize_t n;
    Py_ssize_t pos;
    /* byte->char offset translator (monotonic queries only) */
    Py_ssize_t conv_byte, conv_char;
    /* decoded-text / name pool */
    uint8_t *pool; size_t plen, pcap;
    /* attribute store (append-only; nodes/tokens hold slices) */
    BAttr2 *attrs; int alen, acap;
    /* nodes */
    ANode *nodes; int nn, ncap;
    /* per-doc unknown-tag intern table */
    int unk_off[MAXUNK], unk_len[MAXUNK]; int nunk;
    /* tree-builder state */
    IVec stack;
    IVec fmt;                    /* node ids; -1 = marker */
    int mode, orig_mode;
    int head_el, form_el;        /* -1 = none */
    int frameset_ok, foster_inserts;
    Tok2 pend_tbl[AB_MAXTBLPEND]; int npend_tbl;   /* InTableText chars */
    /* tokenizer state */
    int raw_mode, raw_tag;
    Tok2 pending[AB_MAXPEND]; int npend;
    Py_ssize_t tok_start, tok_end;   /* byte span of current REAL token */
    /* raw-source close stamping (kernel/treebuilder.py _cur_end/_cur_start):
     * tag id of the current source-backed end/start token, -1 otherwise;
     * cur_end_tag is cleared after a successful stamp (single-shot) and
     * on adoption-agency restructuring */
    int cur_end_tag, cur_start_tag, cur_is_comment;
    int errors;                      /* duplicate-attribute count */
    int quirks;
    int base_off, base_len, base_set;
    IVec selfclosing;
    IVec formpairs;              /* flattened (form, control) pairs */
    int track_spans;
    int fragment_body;   /* parse_fragment(context='body') semantics */
    int bail;
    int *walk;           /* DFS stack of the tree walks (nn + 1 ints),
                          * allocated on first use, once per document */
} AB;

static void ab_bail(AB *ab) { ab->bail = 1; }

static int pool_reserve(AB *ab, size_t need) {
    if (ab->plen + need <= ab->pcap) return 1;
    size_t nc = ab->pcap ? ab->pcap * 2 : 1024;
    while (nc < ab->plen + need) nc *= 2;
    uint8_t *np = (uint8_t *)PyMem_Realloc(ab->pool, nc);
    if (!np) { ab_bail(ab); return 0; }
    ab->pool = np; ab->pcap = nc;
    return 1;
}

static int pool_put(AB *ab, const uint8_t *src, size_t len) {
    if (!pool_reserve(ab, len)) return -1;
    memcpy(ab->pool + ab->plen, src, len);
    int off = (int)ab->plen;
    ab->plen += len;
    return off;
}

static int attr_push(AB *ab, BAttr2 a) {
    if (ab->alen >= ab->acap) {
        int nc = ab->acap ? ab->acap * 2 : 32;
        BAttr2 *na = (BAttr2 *)PyMem_Realloc(ab->attrs,
                                             (size_t)nc * sizeof(BAttr2));
        if (!na) { ab_bail(ab); return 0; }
        ab->attrs = na; ab->acap = nc;
    }
    ab->attrs[ab->alen++] = a;
    return 1;
}

static int ab_new_node(AB *ab, int ntype, int tag) {
    if (ab->nn >= ab->ncap) {
        int nc = ab->ncap ? ab->ncap * 2 : 64;
        ANode *nd = (ANode *)PyMem_Realloc(ab->nodes,
                                           (size_t)nc * sizeof(ANode));
        if (!nd) { ab_bail(ab); return 0; }
        ab->nodes = nd; ab->ncap = nc;
    }
    ANode *nd = &ab->nodes[ab->nn];
    memset(nd, 0, sizeof(ANode));
    nd->ntype = (int8_t)ntype;
    nd->tag = tag;
    nd->parent = -1;
    nd->text_off = 0; nd->text_len = -1;
    nd->attr_off = 0; nd->attr_n = 0;
    nd->src_start = -1; nd->src_end = -1; nd->src_close = -1;
    return ab->nn++;
}

/* byte offset -> char offset (monotonically nondecreasing queries) */
static int ab_charoff(AB *ab, Py_ssize_t byte) {
    if (byte < ab->conv_byte) { /* shouldn't happen; recount from 0 */
        ab->conv_byte = 0; ab->conv_char = 0;
    }
    const uint8_t *s = ab->s;
    Py_ssize_t b = ab->conv_byte, c = ab->conv_char;
    while (b < byte) {
        if ((s[b] & 0xC0) != 0x80) c++;
        b++;
    }
    ab->conv_byte = b; ab->conv_char = c;
    return (int)c;
}

/* flags for any tag id (0 for unknown) */
static uint32_t ab_flags(int tag) {
    return (tag >= 0 && tag < UNK_BASE) ? g_flags_by_id[tag] : 0;
}

/* intern a tag name: known table first, then per-doc unknown table */
static int ab_intern_tag(AB *ab, const uint8_t *name, int len) {
    int id = tag_lookup(name, len);
    if (id >= 0) return id;
    for (int i = 0; i < ab->nunk; i++) {
        if (ab->unk_len[i] == len &&
            memcmp(ab->pool + ab->unk_off[i], name, (size_t)len) == 0)
            return UNK_BASE + i;
    }
    if (ab->nunk >= MAXUNK) { ab_bail(ab); return 0; }
    int off = pool_put(ab, name, (size_t)len);
    if (off < 0) return 0;
    ab->unk_off[ab->nunk] = off;
    ab->unk_len[ab->nunk] = len;
    return UNK_BASE + ab->nunk++;
}

/* ---- child-list operations (kernel/arena.py construction ops) ---- */
static void ab_remove_from_parent(AB *ab, int nid) {
    int pid = ab->nodes[nid].parent;
    if (pid != -1) {
        int i = iv_index(&ab->nodes[pid].kids, nid);
        if (i >= 0) iv_remove_at(&ab->nodes[pid].kids, i);
        ab->nodes[nid].parent = -1;
    }
}
static void ab_append_child(AB *ab, int pid, int nid) {
    if (ab->nodes[nid].parent != -1) ab_remove_from_parent(ab, nid);
    ab->nodes[nid].parent = pid;
    if (!iv_push(&ab->nodes[pid].kids, nid)) ab_bail(ab);
}
static void ab_insert_child(AB *ab, int pid, int idx, int nid) {
    if (ab->nodes[nid].parent != -1) ab_remove_from_parent(ab, nid);
    ab->nodes[nid].parent = pid;
    if (!iv_insert(&ab->nodes[pid].kids, idx, nid)) ab_bail(ab);
}
static void ab_insert_before(AB *ab, int ref, int nid) {
    int pid = ab->nodes[ref].parent;
    int idx = iv_index(&ab->nodes[pid].kids, ref);
    ab_insert_child(ab, pid, idx, nid);
}

/* ---- entity-decoding text copy (tokenizer._decode / unescape) ---- */
static int ab_decode_run(AB *ab, Py_ssize_t a, Py_ssize_t b, int in_attr,
                         int *out_off, int *out_len) {
    const uint8_t *s = ab->s;
    if (!pool_reserve(ab, (size_t)(b - a) * 4 + 16)) return 0;
    size_t w = ab->plen;
    Py_ssize_t i = a;
    while (i < b) {
        uint8_t c = s[i];
        if (c == '&') {
            uint8_t dbuf[16]; Py_ssize_t adv = 0;
            int dl = decode_entity_ex(s, i + 1, b, dbuf, &adv, in_attr);
            if (dl > 0) {
                memcpy(ab->pool + w, dbuf, (size_t)dl);
                w += (size_t)dl;
                i += 1 + adv;
                continue;
            }
        }
        ab->pool[w++] = c;
        i++;
    }
    *out_off = (int)ab->plen;
    *out_len = (int)(w - ab->plen);
    ab->plen = w;
    return 1;
}

/* plain (undecoded) copy for RAWTEXT/script/cdata/comment content */
static int ab_raw_run(AB *ab, Py_ssize_t a, Py_ssize_t b,
                      int *out_off, int *out_len) {
    int off = pool_put(ab, ab->s + a, (size_t)(b - a));
    if (off < 0) return 0;
    *out_off = off;
    *out_len = (int)(b - a);
    return 1;
}

/* is a pool span ASCII-whitespace-only ("\t\n\f\r ")? */
static int ab_span_is_ws(AB *ab, int off, int len) {
    const uint8_t *p = ab->pool + off;
    for (int i = 0; i < len; i++) {
        uint8_t c = p[i];
        if (c != '\t' && c != '\n' && c != '\f' && c != '\r' && c != ' ')
            return 0;
    }
    return 1;
}

/* =================== tokenizer (kernel/tokenizer.py) =================== */

static int ab_is_alpha(uint8_t c) {
    return (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z');
}
static int ab_is_ws(uint8_t c) {
    return c == '\t' || c == '\n' || c == '\f' || c == '\r' || c == ' ';
}

/* _TAGNAME_RE: [a-zA-Z][^\t\n\f\r />]* — returns name length from
 * s[i] (first char already verified alpha); non-ASCII bytes are part
 * of the name (normalized later via the exact Python str.lower()). */
static int ab_scan_tagname(AB *ab, Py_ssize_t i, Py_ssize_t *end) {
    const uint8_t *s = ab->s; Py_ssize_t n = ab->n;
    Py_ssize_t j = i + 1;
    while (j < n) {
        uint8_t c = s[j];
        if (ab_is_ws(c) || c == '/' || c == '>') break;
        j++;
    }
    *end = j;
    return 1;
}

static void ab_lower(const uint8_t *src, int len, uint8_t *dst);

/* exact Python str.lower() of a UTF-8 name into dst (<= cap bytes);
 * ASCII fast path, CPython call for non-ASCII. Returns new length or
 * -1 (decode failure / overflow -> caller bails). */
static int ab_lower_name(AB *ab, const uint8_t *src, int len,
                         uint8_t *dst, int cap) {
    int ascii = 1;
    for (int q = 0; q < len; q++)
        if (src[q] >= 0x80) { ascii = 0; break; }
    if (ascii) {
        if (len > cap) { ab_bail(ab); return -1; }
        ab_lower(src, len, dst);
        return len;
    }
    PyObject *u = PyUnicode_DecodeUTF8((const char *)src, len, "strict");
    if (!u) { PyErr_Clear(); ab_bail(ab); return -1; }
    PyObject *lo = PyObject_CallMethod(u, "lower", NULL);
    Py_DECREF(u);
    if (!lo) { PyErr_Clear(); ab_bail(ab); return -1; }
    PyObject *b = PyUnicode_AsUTF8String(lo);
    Py_DECREF(lo);
    if (!b) { PyErr_Clear(); ab_bail(ab); return -1; }
    Py_ssize_t bl = PyBytes_GET_SIZE(b);
    if (bl > cap) { Py_DECREF(b); ab_bail(ab); return -1; }
    memcpy(dst, PyBytes_AS_STRING(b), (size_t)bl);
    Py_DECREF(b);
    return (int)bl;
}

/* lowercase tag/attr name into caller buffer (ASCII only; caller
 * bailed on non-ASCII already) */
static void ab_lower(const uint8_t *src, int len, uint8_t *dst) {
    for (int i = 0; i < len; i++) {
        uint8_t c = src[i];
        dst[i] = (c >= 'A' && c <= 'Z') ? (uint8_t)(c + 32) : c;
    }
}

#define AB_MAXNAME 256

/* tokenizer._attrs: parse attributes from position j past '>'.
 * Fills tok->attr_off/attr_n (slices of ab->attrs), tok->sc.
 * Returns next position; *eof set when input ended inside the tag.
 * The attr records are ALWAYS built (duplicate detection must count
 * errors even on end tags, mirroring the Python tokenizer); callers
 * that discard them (end tags, raw end-tag consumption) roll back
 * ab->alen afterwards. */
static Py_ssize_t ab_attrs(AB *ab, Py_ssize_t j, Tok2 *tok, int capture,
                           int *eof) {
    capture = 1;   /* see doc above; param kept for call-site clarity */
    const uint8_t *s = ab->s; Py_ssize_t n = ab->n;
    int astart = ab->alen;
    int sc = 0;
    *eof = 0;
    for (;;) {
        if (ab->bail) return j;
        while (j < n && ab_is_ws(s[j])) j++;
        if (j >= n) { *eof = 1; break; }
        uint8_t c = s[j];
        if (c == '>') { j++; break; }
        if (c == '/') {
            if (j + 1 < n && s[j + 1] == '>') { sc = 1; j += 2; break; }
            j++;
            continue;
        }
        /* attribute name: [^\t\n\f\r />=]+ (a leading '=' joins) */
        Py_ssize_t name_a = j, name_b;
        if (c == '=') {
            j++;
            name_b = j;
            while (j < n) {
                uint8_t d = s[j];
                if (ab_is_ws(d) || d == '/' || d == '>' || d == '=') break;
                j++;
            }
            name_b = j;
            /* name = "=" + rest: build in scratch below */
        } else {
            while (j < n) {
                uint8_t d = s[j];
                if (ab_is_ws(d) || d == '/' || d == '>' || d == '=') break;
                j++;
            }
            name_b = j;
        }
        uint8_t rawbuf[AB_MAXNAME + 1], namebuf[AB_MAXNAME + 1];
        int nlen = 0;
        if (c == '=') {
            rawbuf[nlen++] = '=';
            Py_ssize_t cnt = name_b - (name_a + 1);
            if (cnt > AB_MAXNAME - 1) { ab_bail(ab); return j; }
            memcpy(rawbuf + 1, s + name_a + 1, (size_t)cnt);
            nlen += (int)cnt;
        } else {
            Py_ssize_t cnt = name_b - name_a;
            if (cnt > AB_MAXNAME) { ab_bail(ab); return j; }
            memcpy(rawbuf, s + name_a, (size_t)cnt);
            nlen = (int)cnt;
        }
        nlen = ab_lower_name(ab, rawbuf, nlen, namebuf, AB_MAXNAME);
        if (nlen < 0) return j;
        /* optional value */
        while (j < n && ab_is_ws(s[j])) j++;
        int val_off = -1, val_len = -1;
        if (j < n && s[j] == '=') {
            j++;
            while (j < n && ab_is_ws(s[j])) j++;
            if (j >= n) { *eof = 1; break; }
            uint8_t q = s[j];
            Py_ssize_t va, vb;
            if (q == '"' || q == '\'') {
                const uint8_t *hit = (const uint8_t *)memchr(
                    s + j + 1, q, (size_t)(n - j - 1));
                if (!hit) { *eof = 1; j = n; break; }
                va = j + 1; vb = hit - s;
                j = vb + 1;
            } else {
                va = j;
                while (j < n) {
                    uint8_t d = s[j];
                    if (ab_is_ws(d) || d == '>') break;
                    j++;
                }
                vb = j;
            }
            if (capture) {
                int has_amp = memchr(s + va, '&', (size_t)(vb - va)) != NULL;
                if (vb > va && has_amp) {
                    if (!ab_decode_run(ab, va, vb, 1, &val_off, &val_len))
                        return j;
                } else {
                    val_off = pool_put(ab, s + va, (size_t)(vb - va));
                    if (val_off < 0) return j;
                    val_len = (int)(vb - va);
                }
            } else {
                val_off = 0; val_len = 0;
            }
        }
        if (capture) {
            /* first declaration wins (duplicate counts as error) */
            int dup = 0;
            for (int k = astart; k < ab->alen; k++) {
                BAttr2 *e = &ab->attrs[k];
                if (e->key_len == nlen &&
                    memcmp(ab->pool + e->key_off, namebuf,
                           (size_t)nlen) == 0) { dup = 1; break; }
            }
            if (dup) {
                ab->errors++;
            } else {
                BAttr2 a2;
                a2.key_off = pool_put(ab, namebuf, (size_t)nlen);
                if (a2.key_off < 0) return j;
                a2.key_len = nlen;
                a2.val_off = val_off; a2.val_len = val_len;
                if (!attr_push(ab, a2)) return j;
            }
        }
    }
    if (capture && tok) {
        tok->attr_off = astart;
        tok->attr_n = ab->alen - astart;
        tok->sc = (uint8_t)sc;
    }
    return j;
}

/* case-insensitive search for "</" + tagname; returns content end and
 * close pos (or -1) — tokenizer._find_close */
static void ab_find_close(AB *ab, Py_ssize_t i, const uint8_t *tag,
                          int taglen, Py_ssize_t *content_end,
                          Py_ssize_t *close_pos) {
    const uint8_t *s = ab->s; Py_ssize_t n = ab->n;
    Py_ssize_t pos = i;
    for (;;) {
        const uint8_t *hit = (const uint8_t *)memchr(s + pos, '<',
                                                     (size_t)(n - pos));
        if (!hit) { *content_end = n; *close_pos = -1; return; }
        Py_ssize_t k = hit - s;
        if (k + 1 < n && s[k + 1] == '/') {
            if (k + 2 + taglen <= n) {
                int ok = 1;
                for (int q = 0; q < taglen; q++) {
                    uint8_t c = s[k + 2 + q];
                    if (c >= 'A' && c <= 'Z') c += 32;
                    if (c != tag[q]) { ok = 0; break; }
                }
                if (ok) {
                    Py_ssize_t after = k + 2 + taglen;
                    if (after >= n || ab_is_ws(s[after]) ||
                        s[after] == '/' || s[after] == '>') {
                        *content_end = k; *close_pos = k;
                        return;
                    }
                }
            }
        }
        pos = k + 1;
    }
}

/* tokenizer._find_breakout: next '<'+ascii-alpha at/after i */
static Py_ssize_t ab_find_breakout(AB *ab, Py_ssize_t i) {
    const uint8_t *s = ab->s; Py_ssize_t n = ab->n;
    Py_ssize_t j = i;
    for (;;) {
        const uint8_t *hit = (const uint8_t *)memchr(s + j, '<',
                                                     (size_t)(n - j));
        if (!hit) return -1;
        j = hit - s;
        if (j + 1 >= n) return -1;
        if (ab_is_alpha(s[j + 1])) return j;
        j++;
    }
}

/* tokenizer._script_end: ScriptData escaped/double-escaped scanning */
static int ab_ci_starts(const uint8_t *s, Py_ssize_t n, Py_ssize_t i,
                        const char *lit) {
    for (; *lit; lit++, i++) {
        if (i >= n) return 0;
        uint8_t c = s[i];
        if (c >= 'A' && c <= 'Z') c += 32;
        if (c != (uint8_t)*lit) return 0;
    }
    return 1;
}

static void ab_script_end(AB *ab, Py_ssize_t i, Py_ssize_t *content_end,
                          Py_ssize_t *close_pos) {
    const uint8_t *s = ab->s; Py_ssize_t n = ab->n;
    int state = 0; /* 0 plain, 1 escaped, 2 double-escaped */
    Py_ssize_t pos = i;
    while (pos < n) {
        uint8_t c = s[pos];
        if (c != '<' && c != '-') { pos++; continue; }
        if (c == '<') {
            if (ab_ci_starts(s, n, pos, "<!--")) {
                if (state == 0) state = 1;
                pos += 4;
                continue;
            }
            if (ab_ci_starts(s, n, pos, "</script")) {
                Py_ssize_t after = pos + 8;
                if (after >= n || ab_is_ws(s[after]) || s[after] == '/' ||
                    s[after] == '>') {
                    if (state == 0 || state == 1) {
                        *content_end = pos; *close_pos = pos;
                        return;
                    }
                    state = 1;   /* double-escaped: back to escaped */
                    pos += 8;
                    continue;
                }
                pos++;
                continue;
            }
            if (ab_ci_starts(s, n, pos, "<script")) {
                Py_ssize_t after = pos + 7;
                if (after >= n || ab_is_ws(s[after]) || s[after] == '/' ||
                    s[after] == '>') {
                    if (state == 1) state = 2;
                    pos += 7;
                    continue;
                }
            }
            pos++;
        } else { /* '-' */
            if (pos + 2 < n && s[pos + 1] == '-' && s[pos + 2] == '>') {
                if (state == 1 || state == 2) state = 0;
                pos += 3;
                continue;
            }
            pos++;
        }
    }
    *content_end = n; *close_pos = -1;
}

/* forward decls */
static int ab_read(AB *ab, Tok2 *tok);
static int ab_tag_open(AB *ab, Tok2 *tok);

static int ab_pending_shift(AB *ab, Tok2 *tok) {
    *tok = ab->pending[0];
    memmove(ab->pending, ab->pending + 1,
            (size_t)(ab->npend - 1) * sizeof(Tok2));
    ab->npend--;
    return 1;
}

static int ab_pending_append(AB *ab, Tok2 t) {
    if (ab->npend >= AB_MAXPEND) { ab_bail(ab); return 0; }
    ab->pending[ab->npend++] = t;
    return 1;
}

static int ab_pending_prepend(AB *ab, Tok2 t) {
    if (ab->npend >= AB_MAXPEND) { ab_bail(ab); return 0; }
    memmove(ab->pending + 1, ab->pending,
            (size_t)ab->npend * sizeof(Tok2));
    ab->pending[0] = t;
    ab->npend++;
    return 1;
}

static Tok2 ab_mk_end(int tag) {
    Tok2 t; memset(&t, 0, sizeof(t));
    t.kind = AK_END; t.tag = tag;
    return t;
}
static Tok2 ab_mk_start(int tag) {
    Tok2 t; memset(&t, 0, sizeof(t));
    t.kind = AK_START; t.tag = tag;
    return t;
}

/* tokenizer._read_raw */
static int ab_read_raw(AB *ab, Tok2 *tok) {
    const uint8_t *s = ab->s; Py_ssize_t n = ab->n;
    int mode = ab->raw_mode, tag = ab->raw_tag;
    ab->raw_mode = RM_NONE;
    Py_ssize_t i = ab->pos;
    memset(tok, 0, sizeof(Tok2));
    if (mode == RM_PLAINTEXT) {
        ab->pos = n;
        if (i < n) {
            tok->kind = AK_DATA;
            if (!ab_raw_run(ab, i, n, &tok->text_off, &tok->text_len))
                return 0;
            return 1;
        }
        tok->kind = AK_EOF;
        return 1;
    }
    /* resolve the raw tag's name bytes */
    const uint8_t *tname; int tlen;
    if (tag < UNK_BASE) {
        tname = (const uint8_t *)g_tagname_by_id[tag];
        tlen = g_tagnamelen_by_id[tag];
        if (!tname) { ab_bail(ab); return 0; }
    } else {
        int u = tag - UNK_BASE;
        tlen = ab->unk_len[u];
        tname = ab->pool + ab->unk_off[u];
        if (tlen > MAXTAGLEN) { ab_bail(ab); return 0; }
    }
    Py_ssize_t end, close;
    if (mode == RM_SCRIPT) {
        ab_script_end(ab, i, &end, &close);
    } else {
        ab_find_close(ab, i, tname, tlen, &end, &close);
        if (close < 0 && mode == RM_RCDATA) {
            /* breakout: synthesize the end tag before the next '<'+alpha */
            Py_ssize_t bj = ab_find_breakout(ab, i);
            if (bj >= 0) {
                ab->pos = bj;
                if (!ab_pending_append(ab, ab_mk_end(tag))) return 0;
                if (bj > i) {
                    tok->kind = AK_CHAR;
                    if (!ab_decode_run(ab, i, bj, 0, &tok->text_off,
                                       &tok->text_len))
                        return 0;
                    return 1;
                }
                return ab_pending_shift(ab, tok);
            }
        }
    }
    Py_ssize_t text_a = i, text_b = end;
    if (close >= 0) {
        /* consume the whole </tag ...> end tag */
        Py_ssize_t j = close + 2;
        if (j < n && ab_is_alpha(s[j])) {
            Py_ssize_t nm_end;
            if (!ab_scan_tagname(ab, j, &nm_end)) return 0;
            j = nm_end;
        }
        int eof = 0;
        int asave = ab->alen;
        j = ab_attrs(ab, j, NULL, 0, &eof);
        ab->alen = asave;   /* end-tag attrs parsed (dup errors counted) then discarded */
        if (ab->bail) return 0;
        ab->pos = eof ? n : j;
        if (!ab_pending_append(ab, ab_mk_end(tag))) return 0;
    } else {
        ab->pos = n;
    }
    if (text_b > text_a) {
        if (mode == RM_RCDATA) {
            tok->kind = AK_CHAR;
            if (!ab_decode_run(ab, text_a, text_b, 0, &tok->text_off,
                               &tok->text_len))
                return 0;
        } else {
            tok->kind = AK_DATA;
            if (!ab_raw_run(ab, text_a, text_b, &tok->text_off,
                            &tok->text_len))
                return 0;
        }
        return 1;
    }
    if (ab->npend) return ab_pending_shift(ab, tok);
    tok->kind = AK_EOF;
    return 1;
}

/* tokenizer._comment (after '<!--') */
static int ab_comment(AB *ab, Py_ssize_t i, Tok2 *tok) {
    const uint8_t *s = ab->s; Py_ssize_t n = ab->n;
    memset(tok, 0, sizeof(Tok2));
    tok->kind = AK_COMMENT;
    if (i < n && s[i] == '>') {
        ab->pos = i + 1;
        tok->text_off = 0; tok->text_len = 0;
        return 1;
    }
    if (i + 1 < n && s[i] == '-' && s[i + 1] == '>') {
        ab->pos = i + 2;
        tok->text_off = 0; tok->text_len = 0;
        return 1;
    }
    /* find "-->" and "--!>" */
    Py_ssize_t p1 = -1, p2 = -1;
    for (Py_ssize_t k = i; k + 2 < n; k++) {
        const uint8_t *hit = (const uint8_t *)memchr(s + k, '-',
                                                     (size_t)(n - k - 2));
        if (!hit) break;
        k = hit - s;
        if (s[k + 1] == '-') {
            if (s[k + 2] == '>') { p1 = k; break; }
            if (k + 3 < n && s[k + 2] == '!' && s[k + 3] == '>') {
                if (p2 < 0) p2 = k;
            }
        }
    }
    Py_ssize_t a = i, b;
    if (p2 >= 0 && (p1 < 0 || p2 < p1)) {
        ab->pos = p2 + 4;
        b = p2;
    } else if (p1 >= 0) {
        ab->pos = p1 + 3;
        b = p1;
    } else {
        ab->pos = n;
        b = n;
        /* trailing "--!" at EOF stripped */
        if (b - a >= 3 && s[b - 3] == '-' && s[b - 2] == '-' &&
            s[b - 1] == '!')
            b -= 3;
    }
    /* comment-start-dash: single leading '-' (not '--') consumed */
    if (b - a >= 1 && s[a] == '-' && !(b - a >= 2 && s[a + 1] == '-'))
        a += 1;
    if (!ab_raw_run(ab, a, b, &tok->text_off, &tok->text_len)) return 0;
    return 1;
}

/* tokenizer._bogus_comment (from position i) */
static int ab_bogus_comment(AB *ab, Py_ssize_t i, Tok2 *tok) {
    const uint8_t *s = ab->s; Py_ssize_t n = ab->n;
    memset(tok, 0, sizeof(Tok2));
    tok->kind = AK_COMMENT;
    const uint8_t *hit = (const uint8_t *)memchr(s + i, '>',
                                                 (size_t)(n - i));
    Py_ssize_t b;
    if (!hit) { b = n; ab->pos = n; }
    else { b = hit - s; ab->pos = b + 1; }
    if (!ab_raw_run(ab, i, b, &tok->text_off, &tok->text_len)) return 0;
    return 1;
}

/* tokenizer._doctype (after "<!doctype") */
static int ab_doctype(AB *ab, Py_ssize_t i, Tok2 *tok) {
    const uint8_t *s = ab->s; Py_ssize_t n = ab->n;
    memset(tok, 0, sizeof(Tok2));
    tok->kind = AK_DOCTYPE;
    tok->pub_len = -1; tok->sys_len = -1;
    Py_ssize_t j = i;
    while (j < n && ab_is_ws(s[j])) j++;
    if (j >= n || s[j] == '>') {
        ab->pos = (j >= n) ? n : j + 1;
        tok->text_off = 0; tok->text_len = 0;
        tok->fq = 1;
        return 1;
    }
    /* name: [^\t\n\f\r >]+ lowered (ASCII; non-ASCII bails — Unicode
     * case normalization parity with Python str.lower()) */
    Py_ssize_t na = j;
    while (j < n && !ab_is_ws(s[j]) && s[j] != '>') j++;
    {
        Py_ssize_t len = j - na;
        if (len > AB_MAXNAME) { ab_bail(ab); return 0; }
        uint8_t lowbuf[AB_MAXNAME + 1];
        int ll = ab_lower_name(ab, s + na, (int)len, lowbuf, AB_MAXNAME);
        if (ll < 0) return 0;
        int off = pool_put(ab, lowbuf, (size_t)ll);
        if (off < 0) return 0;
        tok->text_off = off; tok->text_len = ll;
    }
    while (j < n && ab_is_ws(s[j])) j++;
    if (j < n && s[j] != '>') {
        /* PUBLIC / SYSTEM keyword */
        uint8_t kw[6]; int kn = 0;
        for (Py_ssize_t q = j; q < n && kn < 6; q++, kn++) {
            uint8_t c = s[q];
            if (c >= 'A' && c <= 'Z') c += 32;
            kw[kn] = c;
        }
        Py_ssize_t j2 = j + 6;
        int is_public = (kn == 6 && memcmp(kw, "public", 6) == 0);
        int is_system = (kn == 6 && memcmp(kw, "system", 6) == 0);
        if (is_public || is_system) {
            /* quoted(j2) twice for public, once for system */
            int first_off = -1, first_len = -1;
            int second_off = -1, second_len = -1;
            for (int round = 0; round < (is_public ? 2 : 1); round++) {
                Py_ssize_t q = j2;
                while (q < n && ab_is_ws(s[q])) q++;
                if (q < n && (s[q] == '"' || s[q] == '\'')) {
                    uint8_t quote = s[q];
                    const uint8_t *h2 = (const uint8_t *)memchr(
                        s + q + 1, quote, (size_t)(n - q - 1));
                    Py_ssize_t va = q + 1, vb;
                    if (!h2) { vb = n; j2 = n; }
                    else { vb = h2 - s; j2 = vb + 1; }
                    int off = pool_put(ab, s + va, (size_t)(vb - va));
                    if (off < 0) return 0;
                    if (round == 0) { first_off = off; first_len = (int)(vb - va); }
                    else { second_off = off; second_len = (int)(vb - va); }
                } else {
                    j2 = q;
                    break;
                }
            }
            if (is_public) {
                tok->pub_off = first_off; tok->pub_len = first_len;
                tok->sys_off = second_off; tok->sys_len = second_len;
                if (first_len < 0) tok->fq = 1;
            } else {
                tok->sys_off = first_off; tok->sys_len = first_len;
                if (first_len < 0) tok->fq = 1;
            }
            j = j2;
        } else {
            tok->fq = 1;
            /* j unchanged: find '>' from here (python j stays) */
        }
    }
    {
        const uint8_t *hit = (const uint8_t *)memchr(s + j, '>',
                                                     (size_t)(n - j));
        if (!hit) { ab->pos = n; tok->fq = 1; }
        else ab->pos = (hit - s) + 1;
    }
    return 1;
}

/* tokenizer._markup_decl (after "<!") */
static int ab_markup_decl(AB *ab, Py_ssize_t i, Tok2 *tok) {
    const uint8_t *s = ab->s; Py_ssize_t n = ab->n;
    if (i + 1 < n && s[i] == '-' && s[i + 1] == '-')
        return ab_comment(ab, i + 2, tok);
    if (ab_ci_starts(s, n, i, "doctype"))
        return ab_doctype(ab, i + 7, tok);
    if (i + 6 < n && memcmp(s + i, "[CDATA[", 7) == 0) {
        memset(tok, 0, sizeof(Tok2));
        tok->kind = AK_CDATA;
        Py_ssize_t a = i + 7, b = -1;
        for (Py_ssize_t k = a; k + 2 < n; k++) {
            const uint8_t *hit = (const uint8_t *)memchr(
                s + k, ']', (size_t)(n - k - 2));
            if (!hit) break;
            k = hit - s;
            if (s[k + 1] == ']' && s[k + 2] == '>') { b = k; break; }
        }
        if (b < 0) { ab->pos = n; b = n; }
        else ab->pos = b + 3;
        if (!ab_raw_run(ab, a, b, &tok->text_off, &tok->text_len)) return 0;
        return 1;
    }
    return ab_bogus_comment(ab, i, tok);
}

/* tokenizer._end_tag (after "</"); returns 1 token, 0 err, -1 skipped */
static int ab_end_tag(AB *ab, Py_ssize_t i, Tok2 *tok) {
    const uint8_t *s = ab->s; Py_ssize_t n = ab->n;
    if (i >= n) {
        ab->pos = n;
        memset(tok, 0, sizeof(Tok2));
        tok->kind = AK_CHAR;
        tok->text_off = pool_put(ab, (const uint8_t *)"</", 2);
        if (tok->text_off < 0) return 0;
        tok->text_len = 2;
        return 1;
    }
    uint8_t c = s[i];
    if (c == '>') {
        ab->pos = i + 1;
        return -1;   /* '</>' ignored */
    }
    if (!ab_is_alpha(c))
        return ab_bogus_comment(ab, i, tok);
    Py_ssize_t nm_end;
    if (!ab_scan_tagname(ab, i, &nm_end)) return 0;
    int nlen = (int)(nm_end - i);
    if (nlen > AB_MAXNAME) { ab_bail(ab); return 0; }
    uint8_t namebuf[AB_MAXNAME];
    nlen = ab_lower_name(ab, s + i, nlen, namebuf, AB_MAXNAME);
    if (nlen < 0) return 0;
    int eof = 0;
    int asave = ab->alen;
    Py_ssize_t j = ab_attrs(ab, nm_end, NULL, 0, &eof);
    ab->alen = asave;
    if (ab->bail) return 0;
    memset(tok, 0, sizeof(Tok2));
    if (eof) {
        ab->pos = n;
        tok->kind = AK_EOF;
        return 1;
    }
    ab->pos = j;
    tok->kind = AK_END;
    tok->tag = ab_intern_tag(ab, namebuf, nlen);
    if (ab->bail) return 0;
    return 1;
}

/* tokenizer._tag_open; returns 1 token, 0 err/bail, -1 skipped ('</>') */
static int ab_tag_open(AB *ab, Tok2 *tok) {
    const uint8_t *s = ab->s; Py_ssize_t n = ab->n;
    Py_ssize_t i = ab->pos + 1;
    uint8_t c = s[i];
    if (c == '!') return ab_markup_decl(ab, i + 1, tok);
    if (c == '/') return ab_end_tag(ab, i + 1, tok);
    if (c == '?') return ab_bogus_comment(ab, i, tok);
    /* start tag */
    Py_ssize_t nm_end;
    if (!ab_scan_tagname(ab, i, &nm_end)) return 0;
    int nlen = (int)(nm_end - i);
    if (nlen > AB_MAXNAME) { ab_bail(ab); return 0; }
    uint8_t namebuf[AB_MAXNAME];
    nlen = ab_lower_name(ab, s + i, nlen, namebuf, AB_MAXNAME);
    if (nlen < 0) return 0;
    memset(tok, 0, sizeof(Tok2));
    int eof = 0;
    Py_ssize_t j = ab_attrs(ab, nm_end, tok, 1, &eof);
    if (ab->bail) return 0;
    if (eof) {
        ab->pos = n;
        memset(tok, 0, sizeof(Tok2));
        tok->kind = AK_EOF;   /* unterminated tag at EOF dropped */
        return 1;
    }
    ab->pos = j;
    tok->kind = AK_START;
    tok->tag = ab_intern_tag(ab, namebuf, nlen);
    if (ab->bail) return 0;
    return 1;
}

/* tokenizer._data */
static int ab_data(AB *ab, Tok2 *tok) {
    const uint8_t *s = ab->s; Py_ssize_t n = ab->n;
    Py_ssize_t pos = ab->pos, start = pos;
    for (;;) {
        const uint8_t *hit = (const uint8_t *)memchr(s + pos, '<',
                                                     (size_t)(n - pos));
        if (!hit) {
            ab->pos = n;
            if (start < n) {
                memset(tok, 0, sizeof(Tok2));
                tok->kind = AK_CHAR;
                return ab_decode_run(ab, start, n, 0, &tok->text_off,
                                     &tok->text_len);
            }
            memset(tok, 0, sizeof(Tok2));
            tok->kind = AK_EOF;
            return 1;
        }
        Py_ssize_t lt = hit - s;
        uint8_t nxt = (lt + 1 < n) ? s[lt + 1] : 0;
        if (nxt && (ab_is_alpha(nxt) || nxt == '!' || nxt == '/' ||
                    nxt == '?')) {
            if (lt > start) {
                ab->pos = lt;
                memset(tok, 0, sizeof(Tok2));
                tok->kind = AK_CHAR;
                return ab_decode_run(ab, start, lt, 0, &tok->text_off,
                                     &tok->text_len);
            }
            ab->pos = lt;
            int r = ab_tag_open(ab, tok);
            if (r == 1) return 1;
            if (r == 0) return 0;
            /* '</>' skipped: restart text run */
            pos = start = ab->pos;
            continue;
        }
        pos = lt + 1;   /* literal '<' stays in the text run */
    }
}

/* tokenizer.read */
static int ab_read(AB *ab, Tok2 *tok) {
    ab->tok_start = ab->pos;
    if (ab->npend) {
        ab->tok_end = ab->pos;
        return ab_pending_shift(ab, tok);
    }
    int r;
    if (ab->raw_mode != RM_NONE)
        r = ab_read_raw(ab, tok);
    else
        r = ab_data(ab, tok);
    ab->tok_end = ab->pos;
    return r;
}

/* ============== tree construction (kernel/treebuilder.py) ============== */

static int b_cur(AB *ab) {
    return ab->stack.len ? ab->stack.d[ab->stack.len - 1] : -1;
}
static int b_cur_tag(AB *ab) {
    int c = b_cur(ab);
    return c >= 0 ? ab->nodes[c].tag : -1;
}
static int b_node_tag(AB *ab, int nid) { return ab->nodes[nid].tag; }

static int iv_rindex(const IVec *v, int x) {
    for (int i = v->len - 1; i >= 0; i--) if (v->d[i] == x) return i;
    return -1;
}

static void b_remove_from_stack(AB *ab, int nid) {
    int i = iv_rindex(&ab->stack, nid);
    if (i >= 0) iv_remove_at(&ab->stack, i);
}
static int b_on_stack(AB *ab, int nid) {
    return iv_rindex(&ab->stack, nid) >= 0;
}
static int b_above_on_stack(AB *ab, int nid) {   /* -1 = None */
    int i = iv_rindex(&ab->stack, nid);
    if (i < 0) return -1;
    return i > 0 ? ab->stack.d[i - 1] : -1;
}
static void b_insert_on_stack_after(AB *ab, int after, int nid) {
    int i = iv_rindex(&ab->stack, after);
    if (!iv_insert(&ab->stack, i + 1, nid)) ab_bail(ab);
}
static void b_replace_on_stack(AB *ab, int out, int inn) {
    for (int i = 0; i < ab->stack.len; i++)
        if (ab->stack.d[i] == out) { ab->stack.d[i] = inn; return; }
}

/* treebuilder._foster_parent */
static void b_foster_parent(AB *ab, int nid) {
    int last_table = -1, lt_idx = -1;
    for (int i = ab->stack.len - 1; i >= 0; i--) {
        if (ab->nodes[ab->stack.d[i]].tag == T_table) {
            last_table = ab->stack.d[i]; lt_idx = i;
            break;
        }
    }
    /* the fostered node's source lies INSIDE the span of the target
     * AND of every open element below it (tbody/tr/... down to the
     * current node) but OUTSIDE their DOM subtrees
     * (treebuilder._foster_parent -2) */
    if (ab->track_spans && ab->stack.len) {
        int from = (last_table != -1) ? lt_idx : 0;
        for (int i = from; i < ab->stack.len; i++)
            ab->nodes[ab->stack.d[i]].src_close = -2;
    }
    if (last_table != -1) {
        if (ab->nodes[last_table].parent != -1)
            ab_insert_before(ab, last_table, nid);
        else
            ab_append_child(ab, ab->stack.d[lt_idx - 1], nid);
    } else {
        ab_append_child(ab, ab->stack.d[0], nid);
    }
}

/* treebuilder._insert_node (span record + foster dispatch) */
static void b_insert_node(AB *ab, int nid) {
    if (ab->track_spans) {
        ab->nodes[nid].src_start = ab_charoff(ab, ab->tok_start);
        ab->nodes[nid].src_end = ab_charoff(ab, ab->tok_end);
    }
    int pid;
    if (!ab->stack.len) {
        pid = 0;   /* doc */
    } else {
        int ct = b_cur_tag(ab);
        if (ab->foster_inserts &&
            (ct == T_table || ct == T_tbody || ct == T_tfoot ||
             ct == T_thead || ct == T_tr)) {
            b_foster_parent(ab, nid);
            return;
        }
        pid = ab->stack.d[ab->stack.len - 1];
    }
    ab->nodes[nid].parent = pid;
    if (!iv_push(&ab->nodes[pid].kids, nid)) ab_bail(ab);
}

/* first <base href> wins (treebuilder._maybe_base) */
static void b_maybe_base(AB *ab, int tag, int aoff, int an) {
    if (tag != T_base || ab->base_set || !an) return;
    for (int i = aoff; i < aoff + an; i++) {
        BAttr2 *a = &ab->attrs[i];
        if (a->key_len == 4 &&
            memcmp(ab->pool + a->key_off, "href", 4) == 0) {
            if (a->val_len > 0) {   /* truthy value only */
                ab->base_off = a->val_off;
                ab->base_len = a->val_len;
                ab->base_set = 1;
            }
            return;
        }
    }
}

static void b_track_form_control(AB *ab, int tag, int el) {
    if (ab->form_el == -1) return;
    if (!(ab_flags(tag) & F_FORMLISTED)) return;
    if (!iv_push(&ab->formpairs, ab->form_el)) { ab_bail(ab); return; }
    if (!iv_push(&ab->formpairs, el)) ab_bail(ab);
}

static int b_insert_elem(AB *ab, int tag, int aoff, int an) {
    int el = ab_new_node(ab, NT_ELEMENT, tag);
    if (ab->bail) return 0;
    ab->nodes[el].attr_off = aoff; ab->nodes[el].attr_n = an;
    b_insert_node(ab, el);
    if (ab->stack.len >= AB_MAXDEPTH) { ab_bail(ab); return el; }
    if (!iv_push(&ab->stack, el)) ab_bail(ab);
    b_maybe_base(ab, tag, aoff, an);
    b_track_form_control(ab, tag, el);
    return el;
}

static int b_insert_empty(AB *ab, int tag, int aoff, int an, int sc) {
    int el = ab_new_node(ab, NT_ELEMENT, tag);
    if (ab->bail) return 0;
    ab->nodes[el].attr_off = aoff; ab->nodes[el].attr_n = an;
    b_insert_node(ab, el);
    if (ab->track_spans && ab->cur_start_tag == tag)
        ab->nodes[el].src_close = ab_charoff(ab, ab->tok_end);
    if (sc) { if (!iv_push(&ab->selfclosing, el)) ab_bail(ab); }
    b_maybe_base(ab, tag, aoff, an);
    b_track_form_control(ab, tag, el);
    return el;
}

/* treebuilder.insert_from_token: self-closing inserts empty, pushes,
 * and queues its own end tag at the FRONT of the tokenizer pending */
static int b_insert_from_token(AB *ab, Tok2 *t) {
    if (t->sc) {
        int el = b_insert_empty(ab, t->tag, t->attr_off, t->attr_n, 1);
        if (ab->bail) return el;
        if (ab->stack.len >= AB_MAXDEPTH) { ab_bail(ab); return el; }
        if (!iv_push(&ab->stack, el)) ab_bail(ab);
        ab_pending_prepend(ab, ab_mk_end(t->tag));
        return el;
    }
    return b_insert_elem(ab, t->tag, t->attr_off, t->attr_n);
}

static void b_insert_char_tok(AB *ab, Tok2 *t, int ntype) {
    int nid = ab_new_node(ab, ntype, -1);
    if (ab->bail) return;
    ab->nodes[nid].text_off = t->text_off;
    ab->nodes[nid].text_len = t->text_len;
    b_insert_node(ab, nid);
}

/* insert a constant string as a TEXT node (InHeadNoscript parity) */
static void b_insert_char_lit(AB *ab, const char *lit) {
    int off = pool_put(ab, (const uint8_t *)lit, strlen(lit));
    if (off < 0) return;
    int nid = ab_new_node(ab, NT_TEXT, -1);
    if (ab->bail) return;
    ab->nodes[nid].text_off = off;
    ab->nodes[nid].text_len = (int)strlen(lit);
    b_insert_node(ab, nid);
}

static void b_insert_comment(AB *ab, Tok2 *t) {
    int nid = ab_new_node(ab, NT_COMMENT, -1);
    if (ab->bail) return;
    ab->nodes[nid].text_off = t->text_off;
    ab->nodes[nid].text_len = t->text_len;
    b_insert_node(ab, nid);
    if (ab->track_spans && ab->cur_is_comment)
        ab->nodes[nid].src_close = ab_charoff(ab, ab->tok_end);
}

/* comment attached to a fixed parent (Initial/BeforeHtml/AfterAfter*) */
static void b_append_comment_to(AB *ab, Tok2 *t, int pid) {
    int nid = ab_new_node(ab, NT_COMMENT, -1);
    if (ab->bail) return;
    ab->nodes[nid].text_off = t->text_off;
    ab->nodes[nid].text_len = t->text_len;
    ab_append_child(ab, pid, nid);
}

/* ---- scopes (treebuilder._in_scope family) ---- */
#define SCOPE_NONE   0
#define SCOPE_BUTTON 1
#define SCOPE_LIST   2

static int b_in_scope_x(AB *ab, int tag, int extra) {
    int lo = ab->stack.len - 100;
    if (lo < 0) lo = 0;
    for (int i = ab->stack.len - 1; i >= lo; i--) {
        int t = ab->nodes[ab->stack.d[i]].tag;
        if (t == tag) return 1;
        uint32_t f = ab_flags(t);
        if (f & F_SCOPEBASE) return 0;
        if (extra == SCOPE_BUTTON && t == T_button) return 0;
        if (extra == SCOPE_LIST && (f & F_LISTEXTRA)) return 0;
    }
    return 0;
}
static int b_in_scope(AB *ab, int tag) {
    return b_in_scope_x(ab, tag, SCOPE_NONE);
}
static int b_in_button_scope(AB *ab, int tag) {
    return b_in_scope_x(ab, tag, SCOPE_BUTTON);
}
static int b_in_list_scope(AB *ab, int tag) {
    return b_in_scope_x(ab, tag, SCOPE_LIST);
}
static int b_headings_in_scope(AB *ab) {
    int lo = ab->stack.len - 100;
    if (lo < 0) lo = 0;
    for (int i = ab->stack.len - 1; i >= lo; i--) {
        int t = ab->nodes[ab->stack.d[i]].tag;
        uint32_t f = ab_flags(t);
        if (f & F_HEADING) return 1;
        if (f & F_SCOPEBASE) return 0;
    }
    return 0;
}
static int b_in_table_scope(AB *ab, int tag) {
    for (int i = ab->stack.len - 1; i >= 0; i--) {
        int t = ab->nodes[ab->stack.d[i]].tag;
        if (t == tag) return 1;
        if (t == T_html || t == T_table) return 0;
    }
    return 0;
}
static int b_in_select_scope(AB *ab, int tag) {
    for (int i = ab->stack.len - 1; i >= 0; i--) {
        int t = ab->nodes[ab->stack.d[i]].tag;
        if (t == tag) return 1;
        if (t != T_optgroup && t != T_option) return 0;
    }
    return 0;
}

/* treebuilder._stamp_close: record the end of el's source subtree when
 * it is being closed by its own explicit matching end tag (single-shot
 * per token) */
static void b_stamp_close(AB *ab, int el) {
    if (!ab->track_spans || ab->cur_end_tag < 0) return;
    ANode *nd = &ab->nodes[el];
    if (nd->src_close != -1 || nd->src_start < 0) return;
    if (nd->tag != ab->cur_end_tag) return;
    nd->src_close = ab_charoff(ab, ab->tok_end);
    ab->cur_end_tag = -1;
}
/* treebuilder.pop(): every stack pop attempts a close stamp */
static int b_pop1(AB *ab) {
    int el = ab->stack.d[--ab->stack.len];
    if (ab->cur_end_tag >= 0) b_stamp_close(ab, el);
    return el;
}
static void b_pop_to_close(AB *ab, int tag) {
    while (ab->stack.len) {
        int el = b_pop1(ab);
        if (ab->nodes[el].tag == tag) break;
    }
}
static void b_pop_to_close_headings(AB *ab) {
    while (ab->stack.len) {
        int el = b_pop1(ab);
        if (ab_flags(ab->nodes[el].tag) & F_HEADING) break;
    }
}
static void b_clear_stack_to_table_context(AB *ab) {
    while (ab->stack.len) {
        int t = b_cur_tag(ab);
        if (t == T_table || t == T_html) break;
        b_pop1(ab);
    }
}
static void b_clear_stack_to_table_body_context(AB *ab) {
    while (ab->stack.len) {
        int t = b_cur_tag(ab);
        if (t == T_tbody || t == T_tfoot || t == T_thead || t == T_html)
            break;
        b_pop1(ab);
    }
}
static void b_clear_stack_to_table_row_context(AB *ab) {
    while (ab->stack.len) {
        int t = b_cur_tag(ab);
        if (t == T_tr || t == T_html) break;
        b_pop1(ab);
    }
}

/* reference quirk: no exclude => NO-OP (treebuilder line 348) */
static void b_gen_implied(AB *ab, int exclude_tag) {
    if (exclude_tag < 0) return;
    while (ab->stack.len) {
        int t = b_cur_tag(ab);
        if (t == exclude_tag || !(ab_flags(t) & F_IMPLIED)) return;
        b_pop1(ab);
    }
}

/* ---- active formatting list (marker = -1) ---- */

/* order-insensitive attr-dict equality (Python dict ==) */
static int b_attrs_eq(AB *ab, int a, int b) {
    ANode *na = &ab->nodes[a], *nb = &ab->nodes[b];
    if (na->attr_n != nb->attr_n) return 0;
    for (int i = 0; i < na->attr_n; i++) {
        BAttr2 *x = &ab->attrs[na->attr_off + i];
        int found = 0;
        for (int j = 0; j < nb->attr_n; j++) {
            BAttr2 *y = &ab->attrs[nb->attr_off + j];
            if (x->key_len != y->key_len ||
                memcmp(ab->pool + x->key_off, ab->pool + y->key_off,
                       (size_t)x->key_len) != 0)
                continue;
            found = 1;
            if (x->val_len < 0 && y->val_len < 0) break;
            if (x->val_len < 0 || y->val_len < 0) return 0;
            if (x->val_len != y->val_len ||
                memcmp(ab->pool + x->val_off, ab->pool + y->val_off,
                       (size_t)x->val_len) != 0)
                return 0;
            break;
        }
        if (!found) return 0;
    }
    return 1;
}

/* treebuilder.push_fmt (Noah's ark, exact eviction) */
static void b_push_fmt(AB *ab, int el) {
    int num_seen = 0;
    for (int pos = ab->fmt.len - 1; pos >= 0; pos--) {
        int e = ab->fmt.d[pos];
        if (e == -1) break;
        if (ab->nodes[e].tag == ab->nodes[el].tag && b_attrs_eq(ab, e, el))
            num_seen++;
        if (num_seen == 3) { iv_remove_at(&ab->fmt, pos); break; }
    }
    if (ab->fmt.len >= MAXFMT * 4) { ab_bail(ab); return; }
    if (!iv_push(&ab->fmt, el)) ab_bail(ab);
}

static int b_last_fmt(AB *ab) {   /* -2 = empty-list None */
    return ab->fmt.len ? ab->fmt.d[ab->fmt.len - 1] : -2;
}
static int b_get_active_fmt(AB *ab, int tag) {   /* -1 = None */
    for (int i = ab->fmt.len - 1; i >= 0; i--) {
        int e = ab->fmt.d[i];
        if (e == -1) break;
        if (ab->nodes[e].tag == tag) return e;
    }
    return -1;
}
static void b_remove_fmt(AB *ab, int el) {
    for (int i = ab->fmt.len - 1; i >= 0; i--) {
        if (ab->fmt.d[i] == el) { iv_remove_at(&ab->fmt, i); return; }
    }
}
static void b_replace_fmt(AB *ab, int out, int inn) {
    for (int i = 0; i < ab->fmt.len; i++)
        if (ab->fmt.d[i] == out) { ab->fmt.d[i] = inn; return; }
}
static int b_in_fmt(AB *ab, int el) {
    return iv_index(&ab->fmt, el) >= 0;
}
static void b_clear_fmt_to_marker(AB *ab) {
    while (ab->fmt.len) {
        if (ab->fmt.d[--ab->fmt.len] == -1) break;
    }
}
static void b_insert_marker(AB *ab) {
    if (ab->fmt.len >= MAXFMT * 4) { ab_bail(ab); return; }
    if (!iv_push(&ab->fmt, -1)) ab_bail(ab);
}

/* treebuilder.reconstruct_fmt */
static void b_reconstruct_fmt(AB *ab) {
    int last = b_last_fmt(ab);
    if (last == -2 || last == -1 || b_on_stack(ab, last)) return;
    /* (marker at top: Python `last is None` -> return) */
    int size = ab->fmt.len;
    int pos = size - 1;
    int skip = 0;
    int entry = last;
    for (;;) {
        if (pos == 0) { skip = 1; break; }
        pos -= 1;
        entry = ab->fmt.d[pos];
        if (entry == -1 || b_on_stack(ab, entry)) break;
    }
    for (;;) {
        if (ab->bail) return;
        if (!skip) {
            pos += 1;
            entry = ab->fmt.d[pos];
        }
        skip = 0;
        int new_el = b_insert_elem(ab, ab->nodes[entry].tag,
                                   ab->nodes[entry].attr_off,
                                   ab->nodes[entry].attr_n);
        ab->fmt.d[pos] = new_el;
        if (pos == size - 1) break;
    }
}

/* treebuilder._reset_insertion_mode (full-document parses only) */
static void b_reset_insertion_mode(AB *ab) {
    for (int i = ab->stack.len - 1; i >= 0; i--) {
        int t = ab->nodes[ab->stack.d[i]].tag;
        int last = (i == 0);
        if (t == T_select) { ab->mode = M_IN_SELECT; return; }
        if ((t == T_td || t == T_th) && !last) { ab->mode = M_IN_CELL; return; }
        if (t == T_tr) { ab->mode = M_IN_ROW; return; }
        if (t == T_tbody || t == T_thead || t == T_tfoot) {
            ab->mode = M_IN_TABLE_BODY; return;
        }
        if (t == T_caption) { ab->mode = M_IN_CAPTION; return; }
        if (t == T_colgroup) { ab->mode = M_IN_COLUMN_GROUP; return; }
        if (t == T_table) { ab->mode = M_IN_TABLE; return; }
        if (t == T_head) { ab->mode = M_IN_BODY; return; }
        if (t == T_body) { ab->mode = M_IN_BODY; return; }
        if (t == T_frameset) { ab->mode = M_IN_FRAMESET; return; }
        if (last && ab->fragment_body) {
            /* fragment context 'body' overrides the root's own name
             * (treebuilder._reset_insertion_mode frag_context) */
            ab->mode = M_IN_BODY;
            return;
        }
        if (t == T_html) { ab->mode = M_BEFORE_HEAD; return; }
        if (last) { ab->mode = M_IN_BODY; return; }
    }
    ab->mode = M_IN_BODY;
}

/* merge token attrs onto an existing element (html/body attr merge:
 * setdefault semantics — existing keys keep their value and order,
 * missing keys append).  Copy-on-write: the node gets a fresh slice. */
static void b_merge_attrs(AB *ab, int nid, int aoff, int an) {
    if (!an) return;
    ANode *nd = &ab->nodes[nid];
    int old_off = nd->attr_off, old_n = nd->attr_n;
    int new_off = ab->alen;
    for (int i = 0; i < old_n; i++) {
        if (!attr_push(ab, ab->attrs[old_off + i])) return;
    }
    for (int i = aoff; i < aoff + an; i++) {
        BAttr2 *x = &ab->attrs[i];
        int present = 0;
        for (int j = 0; j < old_n; j++) {
            BAttr2 *y = &ab->attrs[new_off + j];
            if (x->key_len == y->key_len &&
                memcmp(ab->pool + x->key_off, ab->pool + y->key_off,
                       (size_t)x->key_len) == 0) { present = 1; break; }
        }
        if (!present) { if (!attr_push(ab, *x)) return; }
    }
    nd->attr_off = new_off;
    nd->attr_n = ab->alen - new_off;
}

static int bprocess(AB *ab, Tok2 *t, int mode);

/* treebuilder._any_other_end_tag */
static int b_any_other_end_tag(AB *ab, int tag) {
    for (int i = ab->stack.len - 1; i >= 0; i--) {
        int el = ab->stack.d[i];
        int n = ab->nodes[el].tag;
        if (n == tag) {
            b_gen_implied(ab, tag);
            b_pop_to_close(ab, tag);
            break;
        }
        if (ab_flags(n) & F_SPECIAL) return 0;
    }
    return 1;
}

/* treebuilder._adoption_agency (8/3/64, no bookmark — reference
 * HtmlTreeBuilderState.swift:1060-1161 deviations preserved) */
static int b_adoption_agency(AB *ab, int tag) {
    for (int outer = 0; outer < 8; outer++) {
        if (ab->bail) return 1;
        int fmt_el = b_get_active_fmt(ab, tag);
        if (fmt_el == -1) return b_any_other_end_tag(ab, tag);
        if (!b_on_stack(ab, fmt_el)) {
            b_remove_fmt(ab, fmt_el);
            return b_any_other_end_tag(ab, tag);
        }
        if (!b_in_scope(ab, ab->nodes[fmt_el].tag)) return 0;
        int furthest = -1, common_ancestor = -1, seen = 0;
        int size = ab->stack.len < 64 ? ab->stack.len : 64;
        for (int si = 0; si < size; si++) {
            int el = ab->stack.d[si];
            if (el == fmt_el) {
                common_ancestor = (si > 0) ? ab->stack.d[si - 1] : -1;
                seen = 1;
            } else if (seen && (ab_flags(ab->nodes[el].tag) & F_SPECIAL)) {
                furthest = el;
                break;
            }
        }
        if (furthest == -1) {
            b_pop_to_close(ab, ab->nodes[fmt_el].tag);
            b_remove_fmt(ab, fmt_el);
            return 1;
        }
        ab->cur_end_tag = -1;   /* restructuring: suppress close stamps */
        int node = furthest, last_node = furthest;
        for (int inner = 0; inner < 3; inner++) {
            if (node != -1 && b_on_stack(ab, node))
                node = b_above_on_stack(ab, node);
            if (node != -1 && !b_in_fmt(ab, node)) {
                b_remove_from_stack(ab, node);
                continue;
            }
            if (node == fmt_el) break;
            int repl = ab_new_node(ab, NT_ELEMENT, ab->nodes[node].tag);
            if (ab->bail) return 1;
            ab->nodes[repl].attr_off = ab->nodes[node].attr_off;
            ab->nodes[repl].attr_n = ab->nodes[node].attr_n;
            b_replace_fmt(ab, node, repl);
            b_replace_on_stack(ab, node, repl);
            node = repl;
            if (ab->nodes[last_node].parent != -1)
                ab_remove_from_parent(ab, last_node);
            ab_append_child(ab, node, last_node);
            last_node = node;
        }
        if (common_ancestor != -1 &&
            (ab->nodes[common_ancestor].tag == T_table ||
             ab->nodes[common_ancestor].tag == T_tbody ||
             ab->nodes[common_ancestor].tag == T_tfoot ||
             ab->nodes[common_ancestor].tag == T_thead ||
             ab->nodes[common_ancestor].tag == T_tr)) {
            if (ab->nodes[last_node].parent != -1)
                ab_remove_from_parent(ab, last_node);
            b_foster_parent(ab, last_node);
        } else {
            if (ab->nodes[last_node].parent != -1)
                ab_remove_from_parent(ab, last_node);
            if (common_ancestor == -1) { ab_bail(ab); return 1; }
            ab_append_child(ab, common_ancestor, last_node);
        }
        int adopter = ab_new_node(ab, NT_ELEMENT, tag);
        if (ab->bail) return 1;
        ab->nodes[adopter].attr_off = ab->nodes[fmt_el].attr_off;
        ab->nodes[adopter].attr_n = ab->nodes[fmt_el].attr_n;
        /* move all children of furthest into adopter (snapshot order) */
        {
            IVec snap = ab->nodes[furthest].kids;
            IVec fresh; memset(&fresh, 0, sizeof(fresh));
            ab->nodes[furthest].kids = fresh;
            for (int i = 0; i < snap.len; i++) {
                int ch = snap.d[i];
                ab->nodes[ch].parent = -1;   /* detached by snapshot */
                ab_append_child(ab, adopter, ch);
            }
            iv_free(&snap);
        }
        ab_append_child(ab, furthest, adopter);
        b_remove_fmt(ab, fmt_el);
        b_remove_from_stack(ab, fmt_el);
        b_insert_on_stack_after(ab, furthest, adopter);
    }
    return 1;
}

/* ===================== insertion modes ===================== */

static int b_tok_is_ws(AB *ab, Tok2 *t) {
    return ab_span_is_ws(ab, t->text_off, t->text_len);
}

static int b_initial(AB *ab, Tok2 *t) {
    switch (t->kind) {
    case AK_CHAR:
        if (b_tok_is_ws(ab, t)) return 1;
        break;
    case AK_COMMENT:
        b_append_comment_to(ab, t, 0);
        return 1;
    case AK_DOCTYPE: {
        int d = ab_new_node(ab, NT_DOCTYPE, -1);
        if (ab->bail) return 1;
        ab->nodes[d].text_off = t->text_off;
        ab->nodes[d].text_len = t->text_len;
        /* attrs {"publicid": pub or "", "systemid": sys or ""} */
        int aoff = ab->alen;
        BAttr2 a;
        a.key_off = pool_put(ab, (const uint8_t *)"publicid", 8);
        a.key_len = 8;
        if (t->pub_len >= 0) { a.val_off = t->pub_off; a.val_len = t->pub_len; }
        else { a.val_off = a.key_off; a.val_len = 0; }
        attr_push(ab, a);
        a.key_off = pool_put(ab, (const uint8_t *)"systemid", 8);
        a.key_len = 8;
        if (t->sys_len >= 0) { a.val_off = t->sys_off; a.val_len = t->sys_len; }
        else { a.val_off = a.key_off; a.val_len = 0; }
        attr_push(ab, a);
        ab->nodes[d].attr_off = aoff;
        ab->nodes[d].attr_n = ab->alen - aoff;
        ab_append_child(ab, 0, d);
        if (t->fq) ab->quirks = 1;
        ab->mode = M_BEFORE_HTML;
        return 1;
    }
    default:
        break;
    }
    ab->mode = M_BEFORE_HTML;
    return bprocess(ab, t, -1);
}

static int b_before_html(AB *ab, Tok2 *t) {
    switch (t->kind) {
    case AK_DOCTYPE:
        return 1;
    case AK_COMMENT:
        b_append_comment_to(ab, t, 0);
        return 1;
    case AK_CHAR:
        if (b_tok_is_ws(ab, t)) return 1;
        break;
    case AK_START:
        if (t->tag == T_html) {
            int el = ab_new_node(ab, NT_ELEMENT, T_html);
            if (ab->bail) return 1;
            ab->nodes[el].attr_off = t->attr_off;
            ab->nodes[el].attr_n = t->attr_n;
            ab_append_child(ab, 0, el);
            iv_push(&ab->stack, el);
            ab->mode = M_BEFORE_HEAD;
            return 1;
        }
        break;
    case AK_END:
        if (t->tag != T_head && t->tag != T_body && t->tag != T_html &&
            t->tag != T_br)
            return 1;
        break;
    default:
        break;
    }
    {
        int el = ab_new_node(ab, NT_ELEMENT, T_html);
        if (ab->bail) return 1;
        ab_append_child(ab, 0, el);
        iv_push(&ab->stack, el);
        ab->mode = M_BEFORE_HEAD;
        return bprocess(ab, t, -1);
    }
}

static int b_before_head(AB *ab, Tok2 *t) {
    switch (t->kind) {
    case AK_CHAR:
        if (b_tok_is_ws(ab, t)) return 1;
        break;
    case AK_COMMENT:
        b_insert_comment(ab, t);
        return 1;
    case AK_DOCTYPE:
        return 1;
    case AK_START:
        if (t->tag == T_html) return bprocess(ab, t, M_IN_BODY);
        if (t->tag == T_head) {
            ab->head_el = b_insert_elem(ab, T_head, t->attr_off, t->attr_n);
            ab->mode = M_IN_HEAD;
            return 1;
        }
        break;
    case AK_END:
        if (t->tag != T_head && t->tag != T_body && t->tag != T_html &&
            t->tag != T_br)
            return 1;
        break;
    default:
        break;
    }
    ab->head_el = b_insert_elem(ab, T_head, 0, 0);
    ab->mode = M_IN_HEAD;
    return bprocess(ab, t, -1);
}

/* rcdata/rawtext/script element helper: the `sc` variant synthesizes
 * its own end tag (TEXT mode then immediately pops) */
static int b_raw_element(AB *ab, Tok2 *t, int raw_mode) {
    if (t->sc) {
        b_insert_from_token(ab, t);
        ab->orig_mode = ab->mode;
        ab->mode = M_TEXT;
        return 1;
    }
    b_insert_elem(ab, t->tag, t->attr_off, t->attr_n);
    ab->raw_mode = raw_mode;
    ab->raw_tag = t->tag;
    ab->orig_mode = ab->mode;
    ab->mode = M_TEXT;
    return 1;
}

static int b_in_head(AB *ab, Tok2 *t) {
    switch (t->kind) {
    case AK_CHAR:
        if (b_tok_is_ws(ab, t)) { b_insert_char_tok(ab, t, NT_TEXT); return 1; }
        break;
    case AK_COMMENT:
        b_insert_comment(ab, t);
        return 1;
    case AK_DOCTYPE:
        return 1;
    case AK_START: {
        int g = t->tag;
        if (g == T_html) return bprocess(ab, t, M_IN_BODY);
        if (g == T_base || g == T_basefont || g == T_bgsound ||
            g == T_command || g == T_link || g == T_meta) {
            b_insert_empty(ab, g, t->attr_off, t->attr_n, t->sc);
            return 1;
        }
        if (g == T_title) return b_raw_element(ab, t, RM_RCDATA);
        if (g == T_noframes || g == T_style)
            return b_raw_element(ab, t, RM_RAWTEXT);
        if (g == T_noscript) {
            b_insert_elem(ab, g, t->attr_off, t->attr_n);
            ab->mode = M_IN_HEAD_NOSCRIPT;
            return 1;
        }
        if (g == T_script) return b_raw_element(ab, t, RM_SCRIPT);
        if (g == T_head) return 1;
        break;
    }
    case AK_END:
        if (t->tag == T_head) {
            b_pop1(ab);
            ab->mode = M_AFTER_HEAD;
            return 1;
        }
        if (t->tag == T_body || t->tag == T_html || t->tag == T_br)
            break;   /* fall through to anything-else */
        return 1;
    default:
        break;
    }
    b_pop1(ab);
    ab->mode = M_AFTER_HEAD;
    return bprocess(ab, t, -1);
}

static int b_in_head_noscript(AB *ab, Tok2 *t) {
    switch (t->kind) {
    case AK_DOCTYPE:
        return 1;
    case AK_START:
        if (t->tag == T_html) return bprocess(ab, t, M_IN_BODY);
        if (t->tag == T_basefont || t->tag == T_bgsound ||
            t->tag == T_link || t->tag == T_meta ||
            t->tag == T_noframes || t->tag == T_style)
            return bprocess(ab, t, M_IN_HEAD);
        if (t->tag == T_head || t->tag == T_noscript) return 0;
        /* anything-else: the token's string rendering becomes TEXT
         * (Token.toString: '<name key="escaped-val" bare>', attribute
         * values escaped with the default base/utf-8 in-attribute rules
         * — & -> &amp;, nbsp -> &nbsp;, '"' -> &quot;) */
        {
            const uint8_t *nm;
            int nl;
            if (t->tag < UNK_BASE) {
                nm = (const uint8_t *)g_tagname_by_id[t->tag];
                nl = g_tagnamelen_by_id[t->tag];
            } else {
                nm = ab->pool + ab->unk_off[t->tag - UNK_BASE];
                nl = ab->unk_len[t->tag - UNK_BASE];
            }
            if (!nm) { ab_bail(ab); return 1; }
            size_t cap = (size_t)nl + 3;
            for (int k = 0; k < t->attr_n; k++) {
                BAttr2 *a = &ab->attrs[t->attr_off + k];
                cap += 2 + (size_t)a->key_len;
                if (a->val_len >= 0) cap += 3 + (size_t)a->val_len * 6;
            }
            /* note: nm may point into the pool (unknown tags); copy it
             * before pool_reserve can realloc */
            uint8_t nmcopy[AB_MAXNAME + 1];
            if (nl > AB_MAXNAME) { ab_bail(ab); return 1; }
            memcpy(nmcopy, nm, (size_t)nl);
            if (!pool_reserve(ab, cap)) return 1;
            size_t w = ab->plen;
            ab->pool[w++] = '<';
            memcpy(ab->pool + w, nmcopy, (size_t)nl);
            w += (size_t)nl;
            for (int k = 0; k < t->attr_n; k++) {
                BAttr2 *a = &ab->attrs[t->attr_off + k];
                ab->pool[w++] = ' ';
                memcpy(ab->pool + w, ab->pool + a->key_off,
                       (size_t)a->key_len);
                w += (size_t)a->key_len;
                if (a->val_len < 0) continue;
                ab->pool[w++] = '=';
                ab->pool[w++] = '"';
                const uint8_t *v = ab->pool + a->val_off;
                for (int q = 0; q < a->val_len; q++) {
                    uint8_t c = v[q];
                    if (c == '&') {
                        memcpy(ab->pool + w, "&amp;", 5); w += 5;
                    } else if (c == '"') {
                        memcpy(ab->pool + w, "&quot;", 6); w += 6;
                    } else if (c == 0xC2 && q + 1 < a->val_len &&
                               v[q + 1] == 0xA0) {
                        memcpy(ab->pool + w, "&nbsp;", 6); w += 6;
                        q++;
                    } else {
                        ab->pool[w++] = c;
                    }
                }
                ab->pool[w++] = '"';
            }
            ab->pool[w++] = '>';
            int nid = ab_new_node(ab, NT_TEXT, -1);
            if (ab->bail) return 1;
            ab->nodes[nid].text_off = (int)ab->plen;
            ab->nodes[nid].text_len = (int)(w - ab->plen);
            ab->plen = w;
            b_insert_node(ab, nid);
        }
        return 1;
    case AK_END:
        if (t->tag == T_noscript) {
            b_pop1(ab);
            ab->mode = M_IN_HEAD;
            return 1;
        }
        if (t->tag == T_br) {
            b_insert_char_lit(ab, "</br>");
            return 1;
        }
        return 0;
    case AK_CHAR:
        if (b_tok_is_ws(ab, t)) return bprocess(ab, t, M_IN_HEAD);
        b_insert_char_tok(ab, t, NT_TEXT);
        return 1;
    case AK_COMMENT:
        return bprocess(ab, t, M_IN_HEAD);
    case AK_EOF:
        b_insert_char_lit(ab, "EOF");   /* Swift String(describing:) parity */
        return 1;
    default:
        b_insert_char_tok(ab, t, NT_TEXT);
        return 1;
    }
}

static int b_after_head(AB *ab, Tok2 *t) {
    switch (t->kind) {
    case AK_CHAR:
        if (b_tok_is_ws(ab, t)) { b_insert_char_tok(ab, t, NT_TEXT); return 1; }
        break;
    case AK_COMMENT:
        b_insert_comment(ab, t);
        return 1;
    case AK_DOCTYPE:
        return 1;
    case AK_START: {
        int g = t->tag;
        if (g == T_html) return bprocess(ab, t, M_IN_BODY);
        if (g == T_body) {
            b_insert_elem(ab, T_body, t->attr_off, t->attr_n);
            ab->frameset_ok = 0;
            ab->mode = M_IN_BODY;
            return 1;
        }
        if (g == T_frameset) {
            b_insert_elem(ab, T_frameset, t->attr_off, t->attr_n);
            ab->mode = M_IN_FRAMESET;
            return 1;
        }
        if (ab_flags(g) & F_AHTOHEAD) {
            if (ab->head_el != -1) {
                if (ab->stack.len >= AB_MAXDEPTH) { ab_bail(ab); return 1; }
                iv_push(&ab->stack, ab->head_el);
                int r = bprocess(ab, t, M_IN_HEAD);
                b_remove_from_stack(ab, ab->head_el);
                return r;
            }
            return bprocess(ab, t, M_IN_HEAD);
        }
        if (g == T_head) return 1;
        break;
    }
    case AK_END:
        if (t->tag != T_body && t->tag != T_html) return 1;
        break;
    default:
        break;
    }
    b_insert_elem(ab, T_body, 0, 0);
    ab->frameset_ok = 1;
    ab->mode = M_IN_BODY;
    return bprocess(ab, t, -1);
}

/* ------------------------------- InBody ------------------------------- */

static int b_in_body_start(AB *ab, Tok2 *t) {
    int g = t->tag;
    uint32_t f = ab_flags(g);
    if (g == T_html) {
        if (ab->stack.len)
            b_merge_attrs(ab, ab->stack.d[0], t->attr_off, t->attr_n);
        return 1;
    }
    if (f & F_TOHEAD) return bprocess(ab, t, M_IN_HEAD);
    if (g == T_body) {
        ab->frameset_ok = 0;
        if (ab->stack.len >= 2 &&
            ab->nodes[ab->stack.d[1]].tag == T_body)
            b_merge_attrs(ab, ab->stack.d[1], t->attr_off, t->attr_n);
        return 1;
    }
    if (g == T_frameset) {
        if (ab->stack.len < 2 ||
            ab->nodes[ab->stack.d[1]].tag != T_body || !ab->frameset_ok)
            return 0;
        ab_remove_from_parent(ab, ab->stack.d[1]);
        while (ab->stack.len > 1) b_pop1(ab);
        b_insert_elem(ab, T_frameset, t->attr_off, t->attr_n);
        ab->mode = M_IN_FRAMESET;
        return 1;
    }
    if (f & F_PCLOSER) {
        if (b_in_button_scope(ab, T_p)) {
            Tok2 e = ab_mk_end(T_p);
            bprocess(ab, &e, -1);
        }
        b_insert_from_token(ab, t);
        return 1;
    }
    if (f & F_HEADING) {
        if (b_in_button_scope(ab, T_p)) {
            Tok2 e = ab_mk_end(T_p);
            bprocess(ab, &e, -1);
        }
        if (ab_flags(b_cur_tag(ab)) & F_HEADING) b_pop1(ab);
        b_insert_from_token(ab, t);
        return 1;
    }
    if (g == T_pre || g == T_listing) {
        if (b_in_button_scope(ab, T_p)) {
            Tok2 e = ab_mk_end(T_p);
            bprocess(ab, &e, -1);
        }
        b_insert_from_token(ab, t);
        ab->frameset_ok = 0;
        return 1;
    }
    if (g == T_form) {
        if (ab->form_el != -1) return 0;
        if (b_in_button_scope(ab, T_p)) {
            Tok2 e = ab_mk_end(T_p);
            bprocess(ab, &e, -1);
        }
        ab->form_el = b_insert_from_token(ab, t);
        return 1;
    }
    if (g == T_li) {
        ab->frameset_ok = 0;
        for (int i = ab->stack.len - 1; i >= 0; i--) {
            int n = ab->nodes[ab->stack.d[i]].tag;
            if (n == T_li) {
                Tok2 e = ab_mk_end(T_li);
                bprocess(ab, &e, -1);
                break;
            }
            uint32_t nf = ab_flags(n);
            if ((nf & F_SPECIAL) && !(nf & F_LIBREAK)) break;
        }
        if (b_in_button_scope(ab, T_p)) {
            Tok2 e = ab_mk_end(T_p);
            bprocess(ab, &e, -1);
        }
        b_insert_from_token(ab, t);
        return 1;
    }
    if (f & F_DDDT) {
        ab->frameset_ok = 0;
        for (int i = ab->stack.len - 1; i >= 0; i--) {
            int n = ab->nodes[ab->stack.d[i]].tag;
            if (ab_flags(n) & F_DDDT) {
                Tok2 e = ab_mk_end(n);
                bprocess(ab, &e, -1);
                break;
            }
            uint32_t nf = ab_flags(n);
            if ((nf & F_SPECIAL) && !(nf & F_LIBREAK)) break;
        }
        if (b_in_button_scope(ab, T_p)) {
            Tok2 e = ab_mk_end(T_p);
            bprocess(ab, &e, -1);
        }
        b_insert_from_token(ab, t);
        return 1;
    }
    if (g == T_plaintext) {
        if (b_in_button_scope(ab, T_p)) {
            Tok2 e = ab_mk_end(T_p);
            bprocess(ab, &e, -1);
        }
        b_insert_elem(ab, g, t->attr_off, t->attr_n);
        ab->raw_mode = RM_PLAINTEXT;
        ab->raw_tag = g;
        return 1;
    }
    if (g == T_button) {
        if (b_in_button_scope(ab, T_button)) {
            Tok2 e = ab_mk_end(T_button);
            bprocess(ab, &e, -1);
            return bprocess(ab, t, -1);
        }
        b_reconstruct_fmt(ab);
        b_insert_from_token(ab, t);
        ab->frameset_ok = 0;
        return 1;
    }
    if (g == T_a) {
        if (b_get_active_fmt(ab, T_a) != -1) {
            Tok2 e = ab_mk_end(T_a);
            bprocess(ab, &e, -1);
            int rem = b_get_active_fmt(ab, T_a);
            if (rem != -1) {
                b_remove_fmt(ab, rem);
                b_remove_from_stack(ab, rem);
            }
        }
        b_reconstruct_fmt(ab);
        int el = b_insert_from_token(ab, t);
        b_push_fmt(ab, el);
        return 1;
    }
    /* NOTE: nobr is a member of FORMATTERS, so the Python kernel's
     * dedicated nobr branch (treebuilder.py:880-887) is unreachable —
     * the formatter branch handles it.  Mirrored exactly. */
    if (f & F_FORMATTER) {
        b_reconstruct_fmt(ab);
        int el = b_insert_from_token(ab, t);
        b_push_fmt(ab, el);
        return 1;
    }
    if (f & F_APPLET) {
        b_reconstruct_fmt(ab);
        b_insert_from_token(ab, t);
        b_insert_marker(ab);
        ab->frameset_ok = 0;
        return 1;
    }
    if (g == T_table) {
        if (ab->quirks != 1 && b_in_button_scope(ab, T_p)) {
            Tok2 e = ab_mk_end(T_p);
            bprocess(ab, &e, -1);
        }
        b_insert_from_token(ab, t);
        ab->frameset_ok = 0;
        ab->mode = M_IN_TABLE;
        return 1;
    }
    if (f & F_EMPTYFMT) {
        b_reconstruct_fmt(ab);
        b_insert_empty(ab, g, t->attr_off, t->attr_n, t->sc);
        ab->frameset_ok = 0;
        return 1;
    }
    if (g == T_input) {
        b_reconstruct_fmt(ab);
        b_insert_empty(ab, g, t->attr_off, t->attr_n, t->sc);
        /* frameset_ok stays only for <input type=hidden> */
        int hidden = 0;
        for (int i = t->attr_off; i < t->attr_off + t->attr_n; i++) {
            BAttr2 *a = &ab->attrs[i];
            if (a->key_len == 4 &&
                memcmp(ab->pool + a->key_off, "type", 4) == 0) {
                if (a->val_len == 6) {
                    uint8_t low[6];
                    ab_lower(ab->pool + a->val_off, 6, low);
                    if (memcmp(low, "hidden", 6) == 0) hidden = 1;
                }
                break;
            }
        }
        if (!hidden) ab->frameset_ok = 0;
        return 1;
    }
    if (f & F_MEDIA) {
        b_insert_empty(ab, g, t->attr_off, t->attr_n, t->sc);
        return 1;
    }
    if (g == T_hr) {
        if (b_in_button_scope(ab, T_p)) {
            Tok2 e = ab_mk_end(T_p);
            bprocess(ab, &e, -1);
        }
        b_insert_empty(ab, g, t->attr_off, t->attr_n, t->sc);
        ab->frameset_ok = 0;
        return 1;
    }
    if (g == T_image) {
        Tok2 img = *t;
        img.tag = T_img;
        return bprocess(ab, &img, -1);
    }
    if (g == T_textarea) {
        if (t->sc) {
            b_insert_from_token(ab, t);
            ab->orig_mode = ab->mode;
            ab->mode = M_TEXT;
            return 1;
        }
        b_insert_elem(ab, g, t->attr_off, t->attr_n);
        ab->raw_mode = RM_RCDATA;
        ab->raw_tag = g;
        ab->frameset_ok = 0;
        ab->orig_mode = ab->mode;
        ab->mode = M_TEXT;
        return 1;
    }
    if (g == T_xmp) {
        if (b_in_button_scope(ab, T_p)) {
            Tok2 e = ab_mk_end(T_p);
            bprocess(ab, &e, -1);
        }
        b_reconstruct_fmt(ab);
        ab->frameset_ok = 0;
        return b_raw_element(ab, t, RM_RAWTEXT);
    }
    if (g == T_iframe) {
        ab->frameset_ok = 0;
        return b_raw_element(ab, t, RM_RAWTEXT);
    }
    if (g == T_noembed) {
        return b_raw_element(ab, t, RM_RAWTEXT);
    }
    if (g == T_select) {
        b_reconstruct_fmt(ab);
        b_insert_from_token(ab, t);
        ab->frameset_ok = 0;
        if (ab->mode == M_IN_TABLE || ab->mode == M_IN_CAPTION ||
            ab->mode == M_IN_TABLE_BODY || ab->mode == M_IN_ROW ||
            ab->mode == M_IN_CELL)
            ab->mode = M_IN_SELECT_IN_TABLE;
        else
            ab->mode = M_IN_SELECT;
        return 1;
    }
    if (g == T_optgroup || g == T_option) {
        if (b_cur_tag(ab) == T_option) {
            Tok2 e = ab_mk_end(T_option);
            bprocess(ab, &e, -1);
        }
        b_reconstruct_fmt(ab);
        b_insert_from_token(ab, t);
        return 1;
    }
    if (g == T_rp || g == T_rt) {
        if (b_in_scope(ab, T_ruby)) {
            b_gen_implied(ab, -1);   /* reference no-op quirk */
            b_insert_from_token(ab, t);
        }
        return 1;
    }
    if (f & F_DROP) return 0;
    b_reconstruct_fmt(ab);
    b_insert_from_token(ab, t);
    return 1;
}

static int b_in_body_end(AB *ab, Tok2 *t) {
    int g = t->tag;
    uint32_t f = ab_flags(g);
    if (f & F_FORMATTER) return b_adoption_agency(ab, g);
    if (g == T_body) {
        if (!b_in_scope(ab, T_body)) return 0;
        ab->mode = M_AFTER_BODY;
        return 1;
    }
    if (g == T_html) {
        Tok2 e = ab_mk_end(T_body);
        if (bprocess(ab, &e, -1)) return bprocess(ab, t, M_AFTER_BODY);
        return 1;
    }
    if (f & F_ENDCLOSER) {
        if (!b_in_scope(ab, g)) return 0;
        b_gen_implied(ab, -1);
        b_pop_to_close(ab, g);
        return 1;
    }
    if (g == T_form) {
        int current_form = ab->form_el;
        ab->form_el = -1;
        if (current_form == -1 || !b_in_scope(ab, g)) return 0;
        b_gen_implied(ab, -1);
        b_remove_from_stack(ab, current_form);
        return 1;
    }
    if (g == T_p) {
        if (!b_in_button_scope(ab, T_p)) {
            Tok2 st = ab_mk_start(T_p);
            bprocess(ab, &st, -1);
            return bprocess(ab, t, -1);
        }
        b_gen_implied(ab, T_p);
        b_pop_to_close(ab, T_p);
        return 1;
    }
    if (g == T_li) {
        if (!b_in_list_scope(ab, T_li)) return 0;
        b_gen_implied(ab, T_li);
        b_pop_to_close(ab, T_li);
        return 1;
    }
    if (f & F_DDDT) {
        if (!b_in_scope(ab, g)) return 0;
        b_gen_implied(ab, g);
        b_pop_to_close(ab, g);
        return 1;
    }
    if (f & F_HEADING) {
        if (!b_headings_in_scope(ab)) return 0;
        b_gen_implied(ab, g);
        b_pop_to_close_headings(ab);
        return 1;
    }
    if (g == T_sarcasm) return b_any_other_end_tag(ab, g);
    if (f & F_APPLET) {
        if (!b_in_scope(ab, g)) return 0;
        b_gen_implied(ab, -1);
        b_pop_to_close(ab, g);
        b_clear_fmt_to_marker(ab);
        return 1;
    }
    if (g == T_br) return 0;
    return b_any_other_end_tag(ab, g);
}

static int b_in_body(AB *ab, Tok2 *t) {
    switch (t->kind) {
    case AK_CHAR:
        /* NUL char tokens cannot occur: NUL input bails upfront and
         * numeric entity 0 decodes to U+FFFD */
        b_reconstruct_fmt(ab);
        b_insert_char_tok(ab, t, NT_TEXT);
        if (ab->frameset_ok && !b_tok_is_ws(ab, t)) ab->frameset_ok = 0;
        return 1;
    case AK_DATA:
        b_reconstruct_fmt(ab);
        b_insert_char_tok(ab, t, NT_DATA);
        return 1;
    case AK_COMMENT:
        b_insert_comment(ab, t);
        return 1;
    case AK_DOCTYPE:
        return 1;
    case AK_START:
        return b_in_body_start(ab, t);
    case AK_END:
        return b_in_body_end(ab, t);
    case AK_EOF:
        return 1;
    }
    return 1;
}

static int b_text(AB *ab, Tok2 *t) {
    switch (t->kind) {
    case AK_CHAR:
        b_insert_char_tok(ab, t, NT_TEXT);
        return 1;
    case AK_DATA:
        b_insert_char_tok(ab, t, NT_DATA);
        return 1;
    case AK_EOF:
        b_pop1(ab);
        ab->mode = ab->orig_mode;
        return bprocess(ab, t, -1);
    case AK_END:
        b_pop1(ab);
        ab->mode = ab->orig_mode;
        return 1;
    }
    return 1;
}

/* ------------------------------- tables ------------------------------- */

static int b_in_table_anything_else(AB *ab, Tok2 *t) {
    ab->foster_inserts = 1;
    int r = bprocess(ab, t, M_IN_BODY);
    ab->foster_inserts = 0;
    return r;
}

static int b_in_table(AB *ab, Tok2 *t) {
    switch (t->kind) {
    case AK_CHAR:
    case AK_DATA:
        ab->npend_tbl = 0;
        ab->orig_mode = ab->mode;
        ab->mode = M_IN_TABLE_TEXT;
        return bprocess(ab, t, -1);
    case AK_COMMENT:
        b_insert_comment(ab, t);
        return 1;
    case AK_DOCTYPE:
        return 0;
    case AK_START: {
        int g = t->tag;
        if (g == T_caption) {
            b_clear_stack_to_table_context(ab);
            b_insert_marker(ab);
            b_insert_elem(ab, g, t->attr_off, t->attr_n);
            ab->mode = M_IN_CAPTION;
            return 1;
        }
        if (g == T_colgroup) {
            b_clear_stack_to_table_context(ab);
            b_insert_elem(ab, g, t->attr_off, t->attr_n);
            ab->mode = M_IN_COLUMN_GROUP;
            return 1;
        }
        if (g == T_col) {
            Tok2 cg = ab_mk_start(T_colgroup);
            if (bprocess(ab, &cg, -1)) return bprocess(ab, t, -1);
            return 0;
        }
        if (g == T_tbody || g == T_tfoot || g == T_thead) {
            b_clear_stack_to_table_context(ab);
            b_insert_elem(ab, g, t->attr_off, t->attr_n);
            ab->mode = M_IN_TABLE_BODY;
            return 1;
        }
        if (g == T_td || g == T_th || g == T_tr) {
            Tok2 tb = ab_mk_start(T_tbody);
            if (bprocess(ab, &tb, -1)) return bprocess(ab, t, -1);
            return 0;
        }
        if (g == T_table) {
            Tok2 e = ab_mk_end(T_table);
            if (bprocess(ab, &e, -1)) return bprocess(ab, t, -1);
            return 1;
        }
        if (g == T_style || g == T_script)
            return bprocess(ab, t, M_IN_HEAD);
        if (g == T_input) {
            int hidden = 0;
            for (int i = t->attr_off; i < t->attr_off + t->attr_n; i++) {
                BAttr2 *a = &ab->attrs[i];
                if (a->key_len == 4 &&
                    memcmp(ab->pool + a->key_off, "type", 4) == 0) {
                    if (a->val_len == 6) {
                        uint8_t low[6];
                        ab_lower(ab->pool + a->val_off, 6, low);
                        if (memcmp(low, "hidden", 6) == 0) hidden = 1;
                    }
                    break;
                }
            }
            if (!hidden) return b_in_table_anything_else(ab, t);
            b_insert_empty(ab, g, t->attr_off, t->attr_n, t->sc);
            return 1;
        }
        if (g == T_form) {
            if (ab->form_el != -1) return 0;
            ab->form_el = b_insert_empty(ab, g, t->attr_off, t->attr_n,
                                         t->sc);
            return 1;
        }
        return b_in_table_anything_else(ab, t);
    }
    case AK_END: {
        int g = t->tag;
        if (g == T_table) {
            if (!b_in_table_scope(ab, g)) return 0;
            b_pop_to_close(ab, T_table);
            b_reset_insertion_mode(ab);
            return 1;
        }
        if (g == T_body || g == T_caption || g == T_col ||
            g == T_colgroup || g == T_html || g == T_tbody || g == T_td ||
            g == T_tfoot || g == T_th || g == T_thead || g == T_tr)
            return 0;
        return b_in_table_anything_else(ab, t);
    }
    case AK_EOF:
        return 1;
    }
    return b_in_table_anything_else(ab, t);
}

static int b_in_table_text(AB *ab, Tok2 *t) {
    if (t->kind == AK_CHAR || t->kind == AK_DATA) {
        if (ab->npend_tbl >= AB_MAXTBLPEND) { ab_bail(ab); return 1; }
        ab->pend_tbl[ab->npend_tbl++] = *t;
        return 1;
    }
    if (ab->npend_tbl) {
        int all_ws = 1;
        for (int i = 0; i < ab->npend_tbl; i++) {
            if (!ab_span_is_ws(ab, ab->pend_tbl[i].text_off,
                               ab->pend_tbl[i].text_len)) {
                all_ws = 0;
                break;
            }
        }
        if (!all_ws) {
            for (int i = 0; i < ab->npend_tbl; i++) {
                Tok2 p = ab->pend_tbl[i];
                ab->foster_inserts = 1;
                bprocess(ab, &p, M_IN_BODY);
                ab->foster_inserts = 0;
            }
        } else {
            for (int i = 0; i < ab->npend_tbl; i++)
                b_insert_char_tok(ab, &ab->pend_tbl[i], NT_TEXT);
        }
        ab->npend_tbl = 0;
    }
    ab->mode = ab->orig_mode;
    return bprocess(ab, t, -1);
}

static int b_in_caption(AB *ab, Tok2 *t) {
    if (t->kind == AK_END && t->tag == T_caption) {
        if (!b_in_table_scope(ab, t->tag)) return 0;
        b_gen_implied(ab, -1);
        b_pop_to_close(ab, T_caption);
        b_clear_fmt_to_marker(ab);
        ab->mode = M_IN_TABLE;
        return 1;
    }
    if ((t->kind == AK_START &&
         (t->tag == T_caption || t->tag == T_col || t->tag == T_colgroup ||
          t->tag == T_tbody || t->tag == T_td || t->tag == T_tfoot ||
          t->tag == T_th || t->tag == T_thead || t->tag == T_tr)) ||
        (t->kind == AK_END && t->tag == T_table)) {
        Tok2 e = ab_mk_end(T_caption);
        if (bprocess(ab, &e, -1)) return bprocess(ab, t, -1);
        return 1;
    }
    if (t->kind == AK_END &&
        (t->tag == T_body || t->tag == T_col || t->tag == T_colgroup ||
         t->tag == T_html || t->tag == T_tbody || t->tag == T_td ||
         t->tag == T_tfoot || t->tag == T_th || t->tag == T_thead ||
         t->tag == T_tr))
        return 0;
    return bprocess(ab, t, M_IN_BODY);
}

static int b_in_column_group(AB *ab, Tok2 *t) {
    switch (t->kind) {
    case AK_CHAR:
        if (b_tok_is_ws(ab, t)) { b_insert_char_tok(ab, t, NT_TEXT); return 1; }
        break;
    case AK_COMMENT:
        b_insert_comment(ab, t);
        return 1;
    case AK_DOCTYPE:
        return 1;
    case AK_START:
        if (t->tag == T_html) return bprocess(ab, t, M_IN_BODY);
        if (t->tag == T_col) {
            b_insert_empty(ab, t->tag, t->attr_off, t->attr_n, t->sc);
            return 1;
        }
        break;
    case AK_END:
        if (t->tag == T_colgroup) {
            if (b_cur_tag(ab) == T_html) return 0;
            b_pop1(ab);
            ab->mode = M_IN_TABLE;
            return 1;
        }
        if (t->tag == T_col) return 0;
        break;
    case AK_EOF:
        if (b_cur_tag(ab) == T_html) return 1;
        break;
    default:
        break;
    }
    if (b_cur_tag(ab) == T_html) return 0;
    b_pop1(ab);
    ab->mode = M_IN_TABLE;
    return bprocess(ab, t, -1);
}

static int b_exit_table_body(AB *ab, Tok2 *t) {
    if (!(b_in_table_scope(ab, T_tbody) || b_in_table_scope(ab, T_thead) ||
          b_in_table_scope(ab, T_tfoot)))
        return 0;
    b_clear_stack_to_table_body_context(ab);
    Tok2 e = ab_mk_end(b_cur_tag(ab));
    bprocess(ab, &e, -1);
    return bprocess(ab, t, -1);
}

static int b_in_table_body(AB *ab, Tok2 *t) {
    switch (t->kind) {
    case AK_START: {
        int g = t->tag;
        if (g == T_tr) {
            b_clear_stack_to_table_body_context(ab);
            b_insert_elem(ab, g, t->attr_off, t->attr_n);
            ab->mode = M_IN_ROW;
            return 1;
        }
        if (g == T_th || g == T_td) {
            Tok2 tr = ab_mk_start(T_tr);
            if (bprocess(ab, &tr, -1)) return bprocess(ab, t, -1);
            return 0;
        }
        if (g == T_caption || g == T_col || g == T_colgroup ||
            g == T_tbody || g == T_tfoot || g == T_thead)
            return b_exit_table_body(ab, t);
        return bprocess(ab, t, M_IN_TABLE);
    }
    case AK_END: {
        int g = t->tag;
        if (g == T_tbody || g == T_tfoot || g == T_thead) {
            if (!b_in_table_scope(ab, g)) return 0;
            b_clear_stack_to_table_body_context(ab);
            b_pop1(ab);
            ab->mode = M_IN_TABLE;
            return 1;
        }
        if (g == T_table) return b_exit_table_body(ab, t);
        if (g == T_body || g == T_caption || g == T_col ||
            g == T_colgroup || g == T_html || g == T_td || g == T_th ||
            g == T_tr)
            return 0;
        return bprocess(ab, t, M_IN_TABLE);
    }
    default:
        return bprocess(ab, t, M_IN_TABLE);
    }
}

static int b_handle_missing_tr(AB *ab, Tok2 *t) {
    Tok2 e = ab_mk_end(T_tr);
    if (bprocess(ab, &e, -1)) return bprocess(ab, t, -1);
    return 0;
}

static int b_in_row(AB *ab, Tok2 *t) {
    switch (t->kind) {
    case AK_START: {
        int g = t->tag;
        if (g == T_th || g == T_td) {
            b_clear_stack_to_table_row_context(ab);
            b_insert_elem(ab, g, t->attr_off, t->attr_n);
            ab->mode = M_IN_CELL;
            b_insert_marker(ab);
            return 1;
        }
        if (g == T_caption || g == T_col || g == T_colgroup ||
            g == T_tbody || g == T_tfoot || g == T_thead || g == T_tr)
            return b_handle_missing_tr(ab, t);
        return bprocess(ab, t, M_IN_TABLE);
    }
    case AK_END: {
        int g = t->tag;
        if (g == T_tr) {
            if (!b_in_table_scope(ab, g)) return 0;
            b_clear_stack_to_table_row_context(ab);
            b_pop1(ab);
            ab->mode = M_IN_TABLE_BODY;
            return 1;
        }
        if (g == T_table) return b_handle_missing_tr(ab, t);
        if (g == T_tbody || g == T_tfoot || g == T_thead) {
            if (!b_in_table_scope(ab, g)) return 0;
            Tok2 e = ab_mk_end(T_tr);
            bprocess(ab, &e, -1);
            return bprocess(ab, t, -1);
        }
        if (g == T_body || g == T_caption || g == T_col ||
            g == T_colgroup || g == T_html || g == T_td || g == T_th)
            return 0;
        return bprocess(ab, t, M_IN_TABLE);
    }
    default:
        return bprocess(ab, t, M_IN_TABLE);
    }
}

static void b_close_cell(AB *ab) {
    Tok2 e = ab_mk_end(b_in_table_scope(ab, T_td) ? T_td : T_th);
    bprocess(ab, &e, -1);
}

static int b_in_cell(AB *ab, Tok2 *t) {
    if (t->kind == AK_END) {
        int g = t->tag;
        if (g == T_td || g == T_th) {
            if (!b_in_table_scope(ab, g)) {
                ab->mode = M_IN_ROW;
                return 0;
            }
            b_gen_implied(ab, -1);
            b_pop_to_close(ab, g);
            b_clear_fmt_to_marker(ab);
            ab->mode = M_IN_ROW;
            return 1;
        }
        if (g == T_body || g == T_caption || g == T_col ||
            g == T_colgroup || g == T_html)
            return 0;
        if (g == T_table || g == T_tbody || g == T_tfoot || g == T_thead ||
            g == T_tr) {
            if (!b_in_table_scope(ab, g)) return 0;
            b_close_cell(ab);
            return bprocess(ab, t, -1);
        }
        return bprocess(ab, t, M_IN_BODY);
    }
    if (t->kind == AK_START &&
        (t->tag == T_caption || t->tag == T_col || t->tag == T_colgroup ||
         t->tag == T_tbody || t->tag == T_td || t->tag == T_tfoot ||
         t->tag == T_th || t->tag == T_thead || t->tag == T_tr)) {
        if (!(b_in_table_scope(ab, T_td) || b_in_table_scope(ab, T_th)))
            return 0;
        b_close_cell(ab);
        return bprocess(ab, t, -1);
    }
    return bprocess(ab, t, M_IN_BODY);
}

static int b_in_select(AB *ab, Tok2 *t) {
    switch (t->kind) {
    case AK_CHAR:
        b_insert_char_tok(ab, t, NT_TEXT);
        return 1;
    case AK_COMMENT:
        b_insert_comment(ab, t);
        return 1;
    case AK_DOCTYPE:
        return 0;
    case AK_START: {
        int g = t->tag;
        if (g == T_html) return bprocess(ab, t, M_IN_BODY);
        if (g == T_option) {
            if (b_cur_tag(ab) == T_option) {
                Tok2 e = ab_mk_end(T_option);
                bprocess(ab, &e, -1);
            }
            b_insert_elem(ab, g, t->attr_off, t->attr_n);
            return 1;
        }
        if (g == T_optgroup) {
            if (b_cur_tag(ab) == T_option) {
                Tok2 e = ab_mk_end(T_option);
                bprocess(ab, &e, -1);
            }
            if (b_cur_tag(ab) == T_optgroup) {
                Tok2 e = ab_mk_end(T_optgroup);
                bprocess(ab, &e, -1);
            }
            b_insert_elem(ab, g, t->attr_off, t->attr_n);
            return 1;
        }
        if (g == T_select) {
            Tok2 e = ab_mk_end(T_select);
            return bprocess(ab, &e, -1);
        }
        if (g == T_input || g == T_keygen || g == T_textarea) {
            if (!b_in_select_scope(ab, T_select)) return 0;
            Tok2 e = ab_mk_end(T_select);
            bprocess(ab, &e, -1);
            return bprocess(ab, t, -1);
        }
        if (g == T_script) return bprocess(ab, t, M_IN_HEAD);
        return 0;
    }
    case AK_END: {
        int g = t->tag;
        if (g == T_optgroup) {
            if (b_cur_tag(ab) == T_option && ab->stack.len >= 2 &&
                ab->nodes[ab->stack.d[ab->stack.len - 2]].tag == T_optgroup) {
                Tok2 e = ab_mk_end(T_option);
                bprocess(ab, &e, -1);
            }
            if (b_cur_tag(ab) == T_optgroup) b_pop1(ab);
            return 1;
        }
        if (g == T_option) {
            if (b_cur_tag(ab) == T_option) b_pop1(ab);
            return 1;
        }
        if (g == T_select) {
            if (!b_in_select_scope(ab, g)) return 0;
            b_pop_to_close(ab, g);
            b_reset_insertion_mode(ab);
            return 1;
        }
        return 0;
    }
    case AK_EOF:
        return 1;
    default:
        return 0;
    }
}

static int b_in_select_in_table(AB *ab, Tok2 *t) {
    if ((t->kind == AK_START || t->kind == AK_END) &&
        (t->tag == T_caption || t->tag == T_table || t->tag == T_tbody ||
         t->tag == T_tfoot || t->tag == T_thead || t->tag == T_tr ||
         t->tag == T_td || t->tag == T_th)) {
        if (t->kind == AK_END && !b_in_table_scope(ab, t->tag)) return 0;
        Tok2 e = ab_mk_end(T_select);
        bprocess(ab, &e, -1);
        return bprocess(ab, t, -1);
    }
    return bprocess(ab, t, M_IN_SELECT);
}

static int b_after_body(AB *ab, Tok2 *t) {
    switch (t->kind) {
    case AK_CHAR:
        if (b_tok_is_ws(ab, t)) return bprocess(ab, t, M_IN_BODY);
        break;
    case AK_COMMENT:
        /* comment after body attaches to <html> */
        b_append_comment_to(ab, t,
                            ab->stack.len ? ab->stack.d[0] : 0);
        return 1;
    case AK_DOCTYPE:
        return 0;
    case AK_START:
        if (t->tag == T_html) return bprocess(ab, t, M_IN_BODY);
        break;
    case AK_END:
        if (t->tag == T_html) {
            ab->mode = M_AFTER_AFTER_BODY;
            return 1;
        }
        break;
    case AK_EOF:
        return 1;
    default:
        break;
    }
    ab->mode = M_IN_BODY;
    return bprocess(ab, t, -1);
}

static int b_in_frameset(AB *ab, Tok2 *t) {
    switch (t->kind) {
    case AK_CHAR:
        if (b_tok_is_ws(ab, t)) { b_insert_char_tok(ab, t, NT_TEXT); return 1; }
        return 0;
    case AK_COMMENT:
        b_insert_comment(ab, t);
        return 1;
    case AK_DOCTYPE:
        return 0;
    case AK_START:
        if (t->tag == T_html) return bprocess(ab, t, M_IN_BODY);
        if (t->tag == T_frameset) {
            b_insert_elem(ab, t->tag, t->attr_off, t->attr_n);
            return 1;
        }
        if (t->tag == T_frame) {
            b_insert_empty(ab, t->tag, t->attr_off, t->attr_n, t->sc);
            return 1;
        }
        if (t->tag == T_noframes) return bprocess(ab, t, M_IN_HEAD);
        return 0;
    case AK_END:
        if (t->tag == T_frameset) {
            if (b_cur_tag(ab) == T_html) return 0;
            b_pop1(ab);
            if (!ab->fragment_body && b_cur_tag(ab) != T_frameset)
                ab->mode = M_AFTER_FRAMESET;
            return 1;
        }
        return 0;
    case AK_EOF:
        return 1;
    default:
        return 0;
    }
}

static int b_after_frameset(AB *ab, Tok2 *t) {
    switch (t->kind) {
    case AK_CHAR:
        if (b_tok_is_ws(ab, t)) { b_insert_char_tok(ab, t, NT_TEXT); return 1; }
        return 0;
    case AK_COMMENT:
        b_insert_comment(ab, t);
        return 1;
    case AK_DOCTYPE:
        return 0;
    case AK_START:
        if (t->tag == T_html) return bprocess(ab, t, M_IN_BODY);
        if (t->tag == T_noframes) return bprocess(ab, t, M_IN_HEAD);
        return 0;
    case AK_END:
        if (t->tag == T_html) {
            ab->mode = M_AFTER_AFTER_FRAMESET;
            return 1;
        }
        return 0;
    case AK_EOF:
        return 1;
    default:
        return 0;
    }
}

static int b_after_after_body(AB *ab, Tok2 *t) {
    if (t->kind == AK_COMMENT) {
        b_append_comment_to(ab, t, 0);
        return 1;
    }
    if (t->kind == AK_DOCTYPE ||
        (t->kind == AK_CHAR && b_tok_is_ws(ab, t)) ||
        (t->kind == AK_START && t->tag == T_html))
        return bprocess(ab, t, M_IN_BODY);
    if (t->kind == AK_EOF) return 1;
    ab->mode = M_IN_BODY;
    return bprocess(ab, t, -1);
}

static int b_after_after_frameset(AB *ab, Tok2 *t) {
    if (t->kind == AK_COMMENT) {
        b_append_comment_to(ab, t, 0);
        return 1;
    }
    if (t->kind == AK_DOCTYPE ||
        (t->kind == AK_CHAR && b_tok_is_ws(ab, t)) ||
        (t->kind == AK_START && t->tag == T_html))
        return bprocess(ab, t, M_IN_BODY);
    if (t->kind == AK_EOF) return 1;
    if (t->kind == AK_START && t->tag == T_noframes)
        return bprocess(ab, t, M_IN_HEAD);
    return 0;
}

static int bprocess(AB *ab, Tok2 *t, int mode) {
    if (ab->bail) return 1;
    Tok2 conv;
    if (t->kind == AK_CDATA) {
        /* reference (pre-CDataNode jsoup): CDATA -> plain text token */
        conv = *t;
        conv.kind = AK_CHAR;
        t = &conv;
    }
    int m = (mode < 0) ? ab->mode : mode;
    switch (m) {
    case M_INITIAL:              return b_initial(ab, t);
    case M_BEFORE_HTML:          return b_before_html(ab, t);
    case M_BEFORE_HEAD:          return b_before_head(ab, t);
    case M_IN_HEAD:              return b_in_head(ab, t);
    case M_IN_HEAD_NOSCRIPT:     return b_in_head_noscript(ab, t);
    case M_AFTER_HEAD:           return b_after_head(ab, t);
    case M_IN_BODY:              return b_in_body(ab, t);
    case M_TEXT:                 return b_text(ab, t);
    case M_IN_TABLE:             return b_in_table(ab, t);
    case M_IN_TABLE_TEXT:        return b_in_table_text(ab, t);
    case M_IN_CAPTION:           return b_in_caption(ab, t);
    case M_IN_COLUMN_GROUP:      return b_in_column_group(ab, t);
    case M_IN_TABLE_BODY:        return b_in_table_body(ab, t);
    case M_IN_ROW:               return b_in_row(ab, t);
    case M_IN_CELL:              return b_in_cell(ab, t);
    case M_IN_SELECT:            return b_in_select(ab, t);
    case M_IN_SELECT_IN_TABLE:   return b_in_select_in_table(ab, t);
    case M_AFTER_BODY:           return b_after_body(ab, t);
    case M_IN_FRAMESET:          return b_in_frameset(ab, t);
    case M_AFTER_FRAMESET:       return b_after_frameset(ab, t);
    case M_AFTER_AFTER_BODY:     return b_after_after_body(ab, t);
    case M_AFTER_AFTER_FRAMESET: return b_after_after_frameset(ab, t);
    default:                     return bprocess(ab, t, M_IN_BODY);
    }
}

/* ================= driver + Python conversion ================= */

static void ab_free(AB *ab) {
    for (int i = 0; i < ab->nn; i++) iv_free(&ab->nodes[i].kids);
    PyMem_Free(ab->walk);
    PyMem_Free(ab->nodes);
    PyMem_Free(ab->pool);
    PyMem_Free(ab->attrs);
    iv_free(&ab->stack);
    iv_free(&ab->fmt);
    iv_free(&ab->selfclosing);
    iv_free(&ab->formpairs);
}

static PyObject *ab_unicode(AB *ab, int off, int len) {
    return PyUnicode_DecodeUTF8((const char *)ab->pool + off, len, "strict");
}

/* build the Python result tuple (arena columns) */
static PyObject *ab_to_python(AB *ab) {
    int nn = ab->nn;
    PyObject *parent = NULL, *ntype = NULL, *tag = NULL, *text = NULL,
             *attrs = NULL, *children = NULL, *selfc = NULL,
             *formpairs = NULL, *unk_nodes = NULL, *base = NULL,
             *src_s = NULL, *src_e = NULL, *src_c = NULL, *result = NULL;
    parent = PyList_New(nn);
    ntype = PyList_New(nn);
    tag = PyList_New(nn);
    text = PyList_New(nn);
    attrs = PyList_New(nn);
    children = PyList_New(nn);
    unk_nodes = PyList_New(0);
    if (!parent || !ntype || !tag || !text || !attrs || !children ||
        !unk_nodes)
        goto fail;
    for (int i = 0; i < nn; i++) {
        ANode *nd = &ab->nodes[i];
        PyObject *o;
        o = PyLong_FromLong(nd->parent);
        if (!o) goto fail;
        PyList_SET_ITEM(parent, i, o);
        o = PyLong_FromLong(nd->ntype);
        if (!o) goto fail;
        PyList_SET_ITEM(ntype, i, o);
        /* tag id: python registry id, or the NAME for per-doc unknowns */
        if (nd->tag < 0) {
            o = PyLong_FromLong(-1);
        } else if (nd->tag < UNK_BASE) {
            o = PyLong_FromLong(g_pyid_by_id[nd->tag]);
        } else {
            int u = nd->tag - UNK_BASE;
            o = ab_unicode(ab, ab->unk_off[u], ab->unk_len[u]);
            if (o) {
                PyObject *ix = PyLong_FromLong(i);
                if (!ix || PyList_Append(unk_nodes, ix) < 0) {
                    Py_XDECREF(ix);
                    Py_DECREF(o);
                    goto fail;
                }
                Py_DECREF(ix);
            }
        }
        if (!o) goto fail;
        PyList_SET_ITEM(tag, i, o);
        if (nd->text_len >= 0) {
            o = ab_unicode(ab, nd->text_off, nd->text_len);
            if (!o) goto fail;
        } else {
            o = Py_None;
            Py_INCREF(o);
        }
        PyList_SET_ITEM(text, i, o);
        if (nd->attr_n > 0) {
            PyObject *d = PyDict_New();
            if (!d) goto fail;
            for (int k = 0; k < nd->attr_n; k++) {
                BAttr2 *a = &ab->attrs[nd->attr_off + k];
                PyObject *key = ab_unicode(ab, a->key_off, a->key_len);
                if (!key) { Py_DECREF(d); goto fail; }
                PyUnicode_InternInPlace(&key);
                PyObject *val;
                if (a->val_len < 0) {
                    val = Py_None;
                    Py_INCREF(val);
                } else {
                    val = ab_unicode(ab, a->val_off, a->val_len);
                    if (!val) { Py_DECREF(key); Py_DECREF(d); goto fail; }
                }
                int rc = PyDict_SetItem(d, key, val);
                Py_DECREF(key);
                Py_DECREF(val);
                if (rc < 0) { Py_DECREF(d); goto fail; }
            }
            o = d;
        } else {
            o = Py_None;
            Py_INCREF(o);
        }
        PyList_SET_ITEM(attrs, i, o);
        PyObject *kl = PyList_New(nd->kids.len);
        if (!kl) goto fail;
        for (int k = 0; k < nd->kids.len; k++) {
            PyObject *c = PyLong_FromLong(nd->kids.d[k]);
            if (!c) { Py_DECREF(kl); goto fail; }
            PyList_SET_ITEM(kl, k, c);
        }
        PyList_SET_ITEM(children, i, kl);
    }
    selfc = PyList_New(ab->selfclosing.len);
    if (!selfc) goto fail;
    for (int i = 0; i < ab->selfclosing.len; i++) {
        PyObject *o = PyLong_FromLong(ab->selfclosing.d[i]);
        if (!o) goto fail;
        PyList_SET_ITEM(selfc, i, o);
    }
    formpairs = PyList_New(ab->formpairs.len);
    if (!formpairs) goto fail;
    for (int i = 0; i < ab->formpairs.len; i++) {
        PyObject *o = PyLong_FromLong(ab->formpairs.d[i]);
        if (!o) goto fail;
        PyList_SET_ITEM(formpairs, i, o);
    }
    if (ab->base_set) {
        base = ab_unicode(ab, ab->base_off, ab->base_len);
        if (!base) goto fail;
    } else {
        base = Py_None;
        Py_INCREF(base);
    }
    if (ab->track_spans) {
        src_s = PyList_New(nn);
        src_e = PyList_New(nn);
        src_c = PyList_New(nn);
        if (!src_s || !src_e || !src_c) goto fail;
        for (int i = 0; i < nn; i++) {
            PyObject *a = PyLong_FromLong(ab->nodes[i].src_start);
            PyObject *b = PyLong_FromLong(ab->nodes[i].src_end);
            PyObject *c = PyLong_FromLong(ab->nodes[i].src_close);
            if (!a || !b || !c) {
                Py_XDECREF(a); Py_XDECREF(b); Py_XDECREF(c); goto fail;
            }
            PyList_SET_ITEM(src_s, i, a);
            PyList_SET_ITEM(src_e, i, b);
            PyList_SET_ITEM(src_c, i, c);
        }
    } else {
        src_s = Py_None; Py_INCREF(src_s);
        src_e = Py_None; Py_INCREF(src_e);
        src_c = Py_None; Py_INCREF(src_c);
    }
    /* numpy-ready buffers: DFS order (i32) + parent (i64) +
     * ntype (i8) + tag (i32) — the selector Ctx maps these zero-copy
     * instead of re-walking/re-boxing the Python lists per select */
    {
        int32_t *ordbuf = (int32_t *)PyMem_Malloc((size_t)nn * 4);
        int64_t *pbuf = (int64_t *)PyMem_Malloc((size_t)nn * 8);
        int8_t *tbuf = (int8_t *)PyMem_Malloc((size_t)nn);
        int32_t *gbuf = (int32_t *)PyMem_Malloc((size_t)nn * 4);
        int *dfs = (int *)PyMem_Malloc((size_t)(nn + 1) * sizeof(int));
        PyObject *npy = NULL;
        if (ordbuf && pbuf && tbuf && gbuf && dfs) {
            int top = 0, w = 0;
            dfs[top++] = 0;
            while (top) {
                int nid = dfs[--top];
                ordbuf[w++] = nid;
                IVec *k = &ab->nodes[nid].kids;
                for (int i = k->len - 1; i >= 0; i--) {
                    if (top > nn) break;   /* cycle guard */
                    dfs[top++] = k->d[i];
                }
            }
            for (int i = 0; i < nn; i++) {
                ANode *nd = &ab->nodes[i];
                pbuf[i] = nd->parent;
                tbuf[i] = nd->ntype;
                if (nd->tag < 0) gbuf[i] = -1;
                else if (nd->tag < UNK_BASE) gbuf[i] = g_pyid_by_id[nd->tag];
                else gbuf[i] = -2 - (nd->tag - UNK_BASE);  /* patched in hydrator */
            }
            npy = Py_BuildValue(
                "(iy#y#y#y#)", w,
                (const char *)ordbuf, (Py_ssize_t)(w * 4),
                (const char *)pbuf, (Py_ssize_t)(nn * 8),
                (const char *)tbuf, (Py_ssize_t)nn,
                (const char *)gbuf, (Py_ssize_t)(nn * 4));
        }
        PyMem_Free(ordbuf); PyMem_Free(pbuf); PyMem_Free(tbuf);
        PyMem_Free(gbuf); PyMem_Free(dfs);
        if (!npy) { npy = Py_None; Py_INCREF(npy); }
        result = Py_BuildValue(
            "(OOOOOOOiiOOOOOOO)",
            parent, ntype, tag, text, attrs, children, selfc,
            ab->quirks, ab->errors, base, formpairs, src_s, src_e,
            src_c, unk_nodes, npy);
        Py_DECREF(npy);
    }
fail:
    Py_XDECREF(parent); Py_XDECREF(ntype); Py_XDECREF(tag);
    Py_XDECREF(text); Py_XDECREF(attrs); Py_XDECREF(children);
    Py_XDECREF(selfc); Py_XDECREF(formpairs); Py_XDECREF(base);
    Py_XDECREF(src_s); Py_XDECREF(src_e); Py_XDECREF(src_c);
    Py_XDECREF(unk_nodes);
    return result;
}

/* Tokenize and tree-build ``html`` into ``ab``: the one parse loop of
 * every arena entry point. Returns 1 with the arena built (the caller
 * then owns it and calls ab_free), or 0 on a bail (NUL bytes, builder
 * bail, runaway loop guard, error) with ``ab`` already freed and any
 * Python error cleared. */
static int ab_build(AB *ab, const char *html, Py_ssize_t n, int track_spans,
                    int fragment_body) {
    memset(ab, 0, sizeof(AB));
    if (memchr(html, 0, (size_t)n) != NULL)
        return 0;   /* NUL handling -> Python kernel */
    ab->s = (const uint8_t *)html;
    ab->n = n;
    ab->head_el = -1;
    ab->form_el = -1;
    ab->frameset_ok = 1;
    ab->mode = M_INITIAL;
    ab->orig_mode = M_INITIAL;
    ab->track_spans = track_spans;
    ab->fragment_body = fragment_body;
    /* the document node carries '#root' (Document IS an Element) */
    ab_new_node(ab, NT_DOCUMENT, T_hashroot);   /* doc = node 0 */
    if (fragment_body && !ab->bail) {
        /* treebuilder.parse_fragment(context='body'): an <html> root
         * holds the fragment; insertion starts in InBody */
        int root = ab_new_node(ab, NT_ELEMENT, T_html);
        if (!ab->bail) {
            ab_append_child(ab, 0, root);
            iv_push(&ab->stack, root);
            ab->mode = M_IN_BODY;
        }
    }

    long guard = 0, guard_max = 4 * (long)n + 4096;
    while (!ab->bail) {
        Tok2 t;
        if (!ab_read(ab, &t) || ab->bail) break;
        if (ab->tok_end > ab->tok_start) {
            ab->cur_end_tag = (t.kind == AK_END) ? t.tag : -1;
            ab->cur_start_tag = (t.kind == AK_START) ? t.tag : -1;
            ab->cur_is_comment = (t.kind == AK_COMMENT);
        } else {   /* synthetic / pending token: no source backing */
            ab->cur_end_tag = -1; ab->cur_start_tag = -1;
            ab->cur_is_comment = 0;
        }
        bprocess(ab, &t, -1);
        if (ab->bail) break;
        if (t.kind == AK_EOF) break;
        if (++guard > guard_max) { ab_bail(ab); break; }
    }
    if (ab->bail || PyErr_Occurred()) {
        PyErr_Clear();
        ab_free(ab);
        return 0;
    }
    return 1;
}

/* build_arena(html: str, track_spans: int) -> tuple | None (bail) */
static PyObject *py_build_arena(PyObject *self, PyObject *args) {
    const char *html;
    Py_ssize_t n;
    int track_spans, fragment_body = 0;
    if (!PyArg_ParseTuple(args, "s#i|i", &html, &n, &track_spans,
                          &fragment_body))
        return NULL;
    if (!g_ready || !g_pyids_ready) Py_RETURN_NONE;
    AB ab;
    if (!ab_build(&ab, html, n, track_spans, fragment_body)) Py_RETURN_NONE;
    PyObject *r = ab_to_python(&ab);
    ab_free(&ab);
    if (!r) {
        PyErr_Clear();
        Py_RETURN_NONE;
    }
    return r;
}


/* ============ arena-based text extraction (2nd-tier fast path) ============
 * When the STREAMING extractor bails (true adoption-agency runs, Noah's
 * ark, scope-inside-foster...), the arena builder above still handles the
 * document natively: build the tree, then walk it with Arena.node_text
 * semantics.  Only the builder's own (much rarer) bails fall through to
 * the Python kernel. Byte-identity contract: == Arena.node_text(root) /
 * Document.title() (tests/test_arena_build.py::test_arena_doc_text_*). */

typedef struct { uint8_t *d; size_t len, cap; } BBuf;

static int bb_put(BBuf *b, const uint8_t *src, size_t n) {
    if (b->len + n > b->cap) {
        size_t nc = b->cap ? b->cap * 2 : 256;
        while (nc < b->len + n) nc *= 2;
        uint8_t *nd = (uint8_t *)PyMem_Realloc(b->d, nc);
        if (!nd) return 0;
        b->d = nd; b->cap = nc;
    }
    memcpy(b->d + b->len, src, n);
    b->len += n;
    return 1;
}
static int bb_putc(BBuf *b, uint8_t c) { return bb_put(b, &c, 1); }

/* is pool[i] the start of a text-whitespace char ([\t\n\f\r \xa0])?
 * returns its byte length (1 or 2) or 0 */
static int an_ws_at(const uint8_t *p, size_t i, size_t n) {
    uint8_t c = p[i];
    if (c == '\t' || c == '\n' || c == '\f' || c == '\r' || c == ' ')
        return 1;
    if (c == 0xC2 && i + 1 < n && p[i + 1] == 0xA0) return 2;
    return 0;
}

/* the walk stack of a built arena: a node's kids are pushed only when it
 * is popped, so a DFS never holds more than nn + 1 ids; NULL on
 * allocation failure */
static int *an_walk(AB *ab) {
    if (!ab->walk)
        ab->walk = (int *)PyMem_Malloc((size_t)(ab->nn + 1) * sizeof(int));
    return ab->walk;
}

/* Arena.node_text over the C arena (kernel/arena.py:193-249) */
static int an_node_text(AB *ab, int root, BBuf *out) {
    int *stack = an_walk(ab);
    if (!stack) return 0;
    int top = 0;
    stack[top++] = root;
    int nonempty = 0, last_space = 0;
    size_t start_len = out->len;
    while (top) {
        int nid = stack[--top];
        ANode *nd = &ab->nodes[nid];
        if (nd->ntype == NT_TEXT) {
            if (nd->text_len <= 0) continue;
            const uint8_t *raw = ab->pool + nd->text_off;
            size_t rn = (size_t)nd->text_len;
            int preserve = 0;
            int pid = nd->parent;
            if (pid >= 0 && ab->nodes[pid].ntype == NT_ELEMENT) {
                if (ab_flags(ab->nodes[pid].tag) & F_PRESERVE) preserve = 1;
                else {
                    int gp = ab->nodes[pid].parent;
                    if (gp >= 0 && ab->nodes[gp].ntype == NT_ELEMENT &&
                        (ab_flags(ab->nodes[gp].tag) & F_PRESERVE))
                        preserve = 1;
                }
            }
            if (preserve) {
                if (!bb_put(out, raw, rn)) return 0;
                nonempty = 1;
                last_space = raw[rn - 1] == ' ';
            } else {
                size_t i = 0;
                int wrote = 0;
                /* leading ws-run: single space unless dropped */
                int w = an_ws_at(raw, 0, rn);
                if (w) {
                    while (i < rn && (w = an_ws_at(raw, i, rn)) != 0) i += w;
                    if (nonempty && !last_space) {
                        if (!bb_putc(out, ' ')) return 0;
                        wrote = 1;
                        last_space = 1;
                    }
                }
                while (i < rn) {
                    w = an_ws_at(raw, i, rn);
                    if (w) {
                        while (i < rn && (w = an_ws_at(raw, i, rn)) != 0)
                            i += w;
                        if (!bb_putc(out, ' ')) return 0;
                        wrote = 1;
                        last_space = 1;
                    } else {
                        size_t a = i;
                        while (i < rn && !an_ws_at(raw, i, rn)) i++;
                        if (!bb_put(out, raw + a, i - a)) return 0;
                        wrote = 1;
                        last_space = 0;
                    }
                }
                if (wrote) nonempty = 1;
            }
            continue;
        }
        if (nd->ntype == NT_ELEMENT) {
            uint32_t f = ab_flags(nd->tag);
            if (nonempty && !last_space && ((f & F_BLOCK) || nd->tag == T_br)) {
                if (!bb_putc(out, ' ')) return 0;
                last_space = 1;
            }
        }
        for (int k = nd->kids.len - 1; k >= 0; k--)
            stack[top++] = nd->kids.d[k];
    }
    /* final strip of ASCII ws (not nbsp) on the span we appended */
    size_t a = start_len, b = out->len;
    while (a < b) {
        uint8_t c = out->d[a];
        if (c=='\t'||c=='\n'||c=='\f'||c=='\r'||c==' ') a++; else break;
    }
    while (b > a) {
        uint8_t c = out->d[b - 1];
        if (c=='\t'||c=='\n'||c=='\f'||c=='\r'||c==' ') b--; else break;
    }
    if (a > start_len) memmove(out->d + start_len, out->d + a, b - a);
    out->len = start_len + (b - a);
    return 1;
}

/* first node (DFS) matching: tag, or id attr value; -1 = none */
static int an_find_first(AB *ab, int want_tag, const uint8_t *idv,
                         int idlen) {
    int *stack = an_walk(ab);
    if (!stack) return -1;
    int top = 0;
    stack[top++] = 0;
    int found = -1;
    while (top) {
        int nid = stack[--top];
        ANode *nd = &ab->nodes[nid];
        if (nd->ntype == NT_ELEMENT) {
            if (idv == NULL) {
                if (nd->tag == want_tag) { found = nid; break; }
            } else {
                for (int k = 0; k < nd->attr_n; k++) {
                    BAttr2 *a = &ab->attrs[nd->attr_off + k];
                    if (a->key_len == 2 &&
                        ab->pool[a->key_off] == 'i' &&
                        ab->pool[a->key_off + 1] == 'd') {
                        if (a->val_len == idlen &&
                            (idlen == 0 ||
                             memcmp(ab->pool + a->val_off, idv,
                                    (size_t)idlen) == 0))
                            found = nid;
                        break;
                    }
                }
                if (found >= 0) break;
            }
        }
        for (int k = nd->kids.len - 1; k >= 0; k--)
            stack[top++] = nd->kids.d[k];
    }
    return found;
}

/* arena_doc_text(html, scope_id|None)
 *   -> (text, title, n_nodes, errors) | None */
static PyObject *py_arena_doc_text(PyObject *self, PyObject *args) {
    const char *html, *scope = NULL;
    Py_ssize_t n, scope_len = 0;
    if (!PyArg_ParseTuple(args, "s#|z#", &html, &n, &scope, &scope_len))
        return NULL;
    if (!g_ready || !g_pyids_ready) Py_RETURN_NONE;
    AB stack_ab;
    AB *ab = &stack_ab;
    if (!ab_build(ab, html, n, 0, 0)) Py_RETURN_NONE;
    BBuf text; memset(&text, 0, sizeof(text));
    BBuf title; memset(&title, 0, sizeof(title));
    int ok = 1;
    if (scope && scope_len > 0) {
        int el = an_find_first(ab, -1, (const uint8_t *)scope,
                               (int)scope_len);
        if (el >= 0) ok = an_node_text(ab, el, &text);
    } else {
        ok = an_node_text(ab, 0, &text);
    }
    if (ok) {
        int tl = an_find_first(ab, T_title, NULL, 0);
        if (tl >= 0) {
            BBuf tmp; memset(&tmp, 0, sizeof(tmp));
            ok = an_node_text(ab, tl, &tmp);
            if (ok) {
                /* _WS_RUN collapse (incl nbsp) + ASCII strip */
                size_t i = 0;
                int pend = 0, started = 0;
                while (i < tmp.len && ok) {
                    int w = an_ws_at(tmp.d, i, tmp.len);
                    if (w) { pend = 1; i += w; continue; }
                    if (pend && started) ok = bb_putc(&title, ' ');
                    pend = 0;
                    ok = ok && bb_putc(&title, tmp.d[i]);
                    started = 1;
                    i++;
                }
            }
            PyMem_Free(tmp.d);
        }
    }
    PyObject *r = NULL;
    if (ok) {
        PyObject *to = PyUnicode_DecodeUTF8((const char *)text.d,
                                            (Py_ssize_t)text.len, "strict");
        PyObject *io = PyUnicode_DecodeUTF8((const char *)title.d,
                                            (Py_ssize_t)title.len, "strict");
        if (to && io)
            r = Py_BuildValue("(OOii)", to, io, ab->nn - 1, ab->errors);
        Py_XDECREF(to); Py_XDECREF(io);
    }
    PyMem_Free(text.d); PyMem_Free(title.d);
    ab_free(ab);
    if (!r) {
        PyErr_Clear();
        Py_RETURN_NONE;
    }
    return r;
}

/* ============ main-content heuristic (ops/maincontent.py) ============
 * main_content_text(arena) over the C arena: candidates and <a> elements
 * in document order, each anchor's text length added to every candidate
 * ancestor, score = len(text(c)) - 2 * link_len(c), first max wins; a
 * best score <= 0 (or no candidate) falls back to the first <body>, else
 * the root. Lengths count code points, as Python len() does. */

/* len(Arena.node_text(nid)) in code points; -1 on allocation failure.
 * ``buf`` is scratch, reused across calls. */
static Py_ssize_t an_text_len(AB *ab, int nid, BBuf *buf) {
    buf->len = 0;
    if (!an_node_text(ab, nid, buf)) return -1;
    Py_ssize_t cp = 0;
    for (size_t i = 0; i < buf->len; i++)
        cp += (buf->d[i] & 0xC0) != 0x80;   /* skip UTF-8 continuations */
    return cp;
}

/* main_content_text(html, candidate_tags: tuple[bytes, ...])
 *   -> str | None (bail) */
static PyObject *py_main_content_text(PyObject *self, PyObject *args) {
    const char *html;
    Py_ssize_t n;
    PyObject *names;
    if (!PyArg_ParseTuple(args, "s#O!", &html, &n, &PyTuple_Type, &names))
        return NULL;
    if (!g_ready || !g_pyids_ready) Py_RETURN_NONE;
    int ncand = (int)PyTuple_GET_SIZE(names);
    if (ncand > 16) Py_RETURN_NONE;
    AB ab;
    if (!ab_build(&ab, html, n, 0, 0)) Py_RETURN_NONE;

    /* candidate tag ids: the known table, else this doc's unknown tags */
    int cand_tag[16], nct = 0;
    for (int k = 0; k < ncand; k++) {
        PyObject *nm = PyTuple_GET_ITEM(names, k);
        if (!PyBytes_Check(nm)) { ab_free(&ab); Py_RETURN_NONE; }
        const uint8_t *s = (const uint8_t *)PyBytes_AS_STRING(nm);
        int len = (int)PyBytes_GET_SIZE(nm);
        int id = tag_lookup(s, len);
        for (int u = 0; id < 0 && u < ab.nunk; u++)
            if (ab.unk_len[u] == len &&
                memcmp(ab.pool + ab.unk_off[u], s, (size_t)len) == 0)
                id = UNK_BASE + u;
        if (id >= 0) cand_tag[nct++] = id;
    }

    int nn = ab.nn;
    int *stack = an_walk(&ab);
    int *cand_of = (int *)PyMem_Malloc((size_t)nn * sizeof(int));
    IVec cands = {0}, anchors = {0};
    Py_ssize_t *link = NULL;
    BBuf buf; memset(&buf, 0, sizeof(buf));
    PyObject *r = NULL;
    int ok = stack && cand_of;
    if (ok) {
        /* document-order walk: candidates and anchors */
        int top = 0;
        stack[top++] = 0;
        while (top && ok) {
            int nid = stack[--top];
            ANode *nd = &ab.nodes[nid];
            cand_of[nid] = -1;
            if (nd->ntype == NT_ELEMENT) {
                if (nd->tag == T_a) ok = iv_push(&anchors, nid);
                for (int k = 0; k < nct; k++)
                    if (nd->tag == cand_tag[k]) {
                        cand_of[nid] = cands.len;
                        ok = ok && iv_push(&cands, nid);
                        break;
                    }
            }
            for (int k = nd->kids.len - 1; k >= 0; k--)
                stack[top++] = nd->kids.d[k];
        }
    }
    if (ok && cands.len) {
        link = (Py_ssize_t *)PyMem_Calloc((size_t)cands.len,
                                          sizeof(Py_ssize_t));
        ok = link != NULL;
    }
    int best = -1;
    if (ok && cands.len) {
        for (int i = 0; i < anchors.len && ok; i++) {
            Py_ssize_t ln = an_text_len(&ab, anchors.d[i], &buf);
            ok = ln >= 0;
            for (int p = ab.nodes[anchors.d[i]].parent; ok && p != -1;
                 p = ab.nodes[p].parent)
                if (cand_of[p] >= 0) link[cand_of[p]] += ln;
        }
        Py_ssize_t best_score = 0;
        for (int i = 0; i < cands.len && ok; i++) {
            Py_ssize_t ln = an_text_len(&ab, cands.d[i], &buf);
            ok = ln >= 0;
            Py_ssize_t score = ln - 2 * link[i];
            if (best < 0 || score > best_score) {   /* ties: the first */
                best = cands.d[i];
                best_score = score;
            }
        }
        if (best_score <= 0) best = -1;
    }
    if (ok && best < 0) {
        best = an_find_first(&ab, T_body, NULL, 0);
        if (best < 0) best = 0;
    }
    if (ok) {
        buf.len = 0;
        if (an_node_text(&ab, best, &buf))
            r = PyUnicode_DecodeUTF8((const char *)buf.d,
                                     (Py_ssize_t)buf.len, "strict");
    }
    PyMem_Free(cand_of); PyMem_Free(link);
    PyMem_Free(buf.d);
    iv_free(&cands); iv_free(&anchors);
    ab_free(&ab);
    if (!r) {
        PyErr_Clear();
        Py_RETURN_NONE;
    }
    return r;
}

/* init_tables(tags: list[(bytes, int)], semi: list[(bytes, bytes)],
 *             nosemi: list[(bytes, bytes)], max_ent_name: int) */
static PyObject *py_init_tables(PyObject *self, PyObject *args) {
    PyObject *tags, *semi, *nosemi;
    int max_name;
    if (!PyArg_ParseTuple(args, "OOOi", &tags, &semi, &nosemi, &max_name))
        return NULL;
    if (g_ready) Py_RETURN_NONE;
    g_max_ent_name = max_name;

    Py_ssize_t ntags = PyList_Size(tags);
    Py_ssize_t nsemi = PyList_Size(semi);
    Py_ssize_t nnosemi = PyList_Size(nosemi);

    /* name arena sizing */
    Py_ssize_t arena_sz = 0, ent_sz = 0;
    for (Py_ssize_t i = 0; i < ntags; i++)
        arena_sz += PyBytes_Size(PyTuple_GetItem(PyList_GetItem(tags, i), 0)) + 1;
    for (Py_ssize_t i = 0; i < nsemi; i++) {
        PyObject *t = PyList_GetItem(semi, i);
        ent_sz += PyBytes_Size(PyTuple_GetItem(t, 0)) +
                  PyBytes_Size(PyTuple_GetItem(t, 1)) + 2;
    }
    for (Py_ssize_t i = 0; i < nnosemi; i++) {
        PyObject *t = PyList_GetItem(nosemi, i);
        ent_sz += PyBytes_Size(PyTuple_GetItem(t, 0)) +
                  PyBytes_Size(PyTuple_GetItem(t, 1)) + 2;
    }
    g_name_arena = malloc(arena_sz);
    g_ent_arena = malloc(ent_sz);
    if (!g_name_arena || !g_ent_arena) return PyErr_NoMemory();
    char *np = g_name_arena, *ep = g_ent_arena;

    memset(g_tags, 0, sizeof(g_tags));
    memset(g_semi, 0, sizeof(g_semi));
    memset(g_nosemi, 0, sizeof(g_nosemi));
    memset(g_flags_by_id, 0, sizeof(g_flags_by_id));

    for (Py_ssize_t i = 0; i < ntags; i++) {
        PyObject *t = PyList_GetItem(tags, i);
        char *nm; Py_ssize_t nl;
        PyBytes_AsStringAndSize(PyTuple_GetItem(t, 0), &nm, &nl);
        long fl = PyLong_AsLong(PyTuple_GetItem(t, 1));
        memcpy(np, nm, nl);
        uint32_t h = fnv1a((const uint8_t *)np, nl) & 2047;
        while (g_tags[h].name) h = (h + 1) & 2047;
        g_tags[h].name = np; g_tags[h].len = (int)nl; g_tags[h].id = (int)i;
        g_flags_by_id[i] = (uint32_t)fl;
        g_tagname_by_id[i] = np;
        g_tagnamelen_by_id[i] = (int)nl;
        np += nl; *np++ = 0;
    }
    g_nknown = (int)ntags;

    for (Py_ssize_t i = 0; i < nsemi + nnosemi; i++) {
        PyObject *t = (i < nsemi) ? PyList_GetItem(semi, i)
                                  : PyList_GetItem(nosemi, i - nsemi);
        EntSlot *tab = (i < nsemi) ? g_semi : g_nosemi;
        int mask = (i < nsemi) ? 8191 : 511;
        char *nm, *vv; Py_ssize_t nl, vl;
        PyBytes_AsStringAndSize(PyTuple_GetItem(t, 0), &nm, &nl);
        PyBytes_AsStringAndSize(PyTuple_GetItem(t, 1), &vv, &vl);
        char *kn = ep; memcpy(ep, nm, nl); ep += nl; *ep++ = 0;
        char *kv = ep; memcpy(ep, vv, vl); ep += vl; *ep++ = 0;
        uint32_t h = fnv1a((const uint8_t *)kn, nl) & mask;
        while (tab[h].name) h = (h + 1) & mask;
        tab[h].name = kn; tab[h].nlen = (int)nl;
        tab[h].val = kv; tab[h].vlen = (int)vl;
    }

    /* resolve well-known ids */
#define R(var, nm) var = tag_lookup((const uint8_t *)nm, (int)strlen(nm))
    R(T_p,"p"); R(T_li,"li"); R(T_br,"br"); R(T_a,"a"); R(T_form,"form");
    R(T_head,"head"); R(T_body,"body"); R(T_html,"html"); R(T_title,"title");
    R(T_textarea,"textarea"); R(T_script,"script"); R(T_style,"style");
    R(T_noscript,"noscript"); R(T_noframes,"noframes"); R(T_pre,"pre");
    R(T_listing,"listing"); R(T_xmp,"xmp"); R(T_iframe,"iframe");
    R(T_noembed,"noembed"); R(T_button,"button"); R(T_option,"option");
    R(T_optgroup,"optgroup"); R(T_ruby,"ruby"); R(T_rp,"rp"); R(T_rt,"rt");
    R(T_nobr,"nobr"); R(T_img,"img"); R(T_image,"image"); R(T_input,"input");
    R(T_hr,"hr"); R(T_dd,"dd"); R(T_dt,"dt"); R(T_base,"base");
    R(T_basefont,"basefont"); R(T_bgsound,"bgsound"); R(T_command,"command");
    R(T_link,"link"); R(T_meta,"meta"); R(T_ol,"ol"); R(T_ul,"ul");
    R(T_table,"table"); R(T_caption,"caption"); R(T_colgroup,"colgroup");
    R(T_col,"col"); R(T_tbody,"tbody"); R(T_thead,"thead");
    R(T_tfoot,"tfoot"); R(T_tr,"tr"); R(T_td,"td"); R(T_th,"th");
    R(T_select,"select"); R(T_keygen,"keygen");
    R(T_frameset,"frameset"); R(T_frame,"frame");
    R(T_plaintext,"plaintext"); R(T_sarcasm,"sarcasm");
    R(T_hashroot,"#root");
#undef R

    /* byte classes */
    memset(g_bclass, BC_PLAIN, 256);
    g_bclass['\t'] = g_bclass['\n'] = g_bclass['\f'] = g_bclass['\r'] =
        g_bclass[' '] = BC_WS;
    g_bclass['&'] = BC_AMP;
    g_bclass[0xC2] = BC_C2;

    g_ready = 1;
    Py_RETURN_NONE;
}

/* ---- MD5 (implemented from the RFC 1321 algorithm description) ------
 * Used by the dedup operators' portable hash family: the SimHash /
 * MinHash kernels hash each unique word with md5 so a DuckDB oracle can
 * replay signatures bit-exactly; this removes the per-word Python
 * hashlib loop (the one remaining Python hot loop flagged in round 2). */
static const uint32_t MD5_K[64] = {
    0xd76aa478u,0xe8c7b756u,0x242070dbu,0xc1bdceeeu,
    0xf57c0fafu,0x4787c62au,0xa8304613u,0xfd469501u,
    0x698098d8u,0x8b44f7afu,0xffff5bb1u,0x895cd7beu,
    0x6b901122u,0xfd987193u,0xa679438eu,0x49b40821u,
    0xf61e2562u,0xc040b340u,0x265e5a51u,0xe9b6c7aau,
    0xd62f105du,0x02441453u,0xd8a1e681u,0xe7d3fbc8u,
    0x21e1cde6u,0xc33707d6u,0xf4d50d87u,0x455a14edu,
    0xa9e3e905u,0xfcefa3f8u,0x676f02d9u,0x8d2a4c8au,
    0xfffa3942u,0x8771f681u,0x6d9d6122u,0xfde5380cu,
    0xa4beea44u,0x4bdecfa9u,0xf6bb4b60u,0xbebfbc70u,
    0x289b7ec6u,0xeaa127fau,0xd4ef3085u,0x04881d05u,
    0xd9d4d039u,0xe6db99e5u,0x1fa27cf8u,0xc4ac5665u,
    0xf4292244u,0x432aff97u,0xab9423a7u,0xfc93a039u,
    0x655b59c3u,0x8f0ccc92u,0xffeff47du,0x85845dd1u,
    0x6fa87e4fu,0xfe2ce6e0u,0xa3014314u,0x4e0811a1u,
    0xf7537e82u,0xbd3af235u,0x2ad7d2bbu,0xeb86d391u};
static const uint8_t MD5_S[64] = {
    7,12,17,22,7,12,17,22,7,12,17,22,7,12,17,22,
    5, 9,14,20,5, 9,14,20,5, 9,14,20,5, 9,14,20,
    4,11,16,23,4,11,16,23,4,11,16,23,4,11,16,23,
    6,10,15,21,6,10,15,21,6,10,15,21,6,10,15,21};

static void md5_block(uint32_t st[4], const uint8_t *p) {
    uint32_t M[16];
    int i;
    for (i = 0; i < 16; i++)
        M[i] = (uint32_t)p[4*i] | ((uint32_t)p[4*i+1] << 8) |
               ((uint32_t)p[4*i+2] << 16) | ((uint32_t)p[4*i+3] << 24);
    uint32_t a = st[0], b = st[1], c = st[2], d = st[3];
    for (i = 0; i < 64; i++) {
        uint32_t f; int g;
        if (i < 16)      { f = (b & c) | (~b & d); g = i; }
        else if (i < 32) { f = (d & b) | (~d & c); g = (5*i + 1) & 15; }
        else if (i < 48) { f = b ^ c ^ d;          g = (3*i + 5) & 15; }
        else             { f = c ^ (b | ~d);       g = (7*i) & 15; }
        uint32_t tmp = d;
        d = c; c = b;
        uint32_t x = a + f + MD5_K[i] + M[g];
        b = b + ((x << MD5_S[i]) | (x >> (32 - MD5_S[i])));
        a = tmp;
    }
    st[0] += a; st[1] += b; st[2] += c; st[3] += d;
}

static void md5_digest(const uint8_t *msg, size_t len, uint8_t out[16]) {
    uint32_t st[4] = {0x67452301u, 0xefcdab89u, 0x98badcfeu, 0x10325476u};
    size_t i = 0;
    int k;
    for (; i + 64 <= len; i += 64) md5_block(st, msg + i);
    uint8_t tail[128];
    size_t r = len - i;
    if (r) memcpy(tail, msg + i, r);
    tail[r++] = 0x80;
    size_t pad = (r <= 56) ? 64 : 128;
    memset(tail + r, 0, pad - 8 - r);
    uint64_t bits = (uint64_t)len << 3;
    for (k = 0; k < 8; k++) tail[pad - 8 + k] = (uint8_t)(bits >> (8 * k));
    md5_block(st, tail);
    if (pad == 128) md5_block(st, tail + 64);
    for (k = 0; k < 4; k++) {
        out[4*k]     = (uint8_t)(st[k]);
        out[4*k + 1] = (uint8_t)(st[k] >> 8);
        out[4*k + 2] = (uint8_t)(st[k] >> 16);
        out[4*k + 3] = (uint8_t)(st[k] >> 24);
    }
}

/* batch_md5_prefix64(data: buffer, offsets: buffer, n: int,
 *                    arr_offset: int, large: bool) -> bytes
 *
 * Zero-copy over an Arrow StringArray's raw buffers (same interface as
 * batch_extract): per string, the first 8 digest bytes of md5 read
 * big-endian — returned as n native uint64 values (numpy-frombuffer
 * ready). This is `int.from_bytes(md5(w).digest()[:8], "big")`. */
static PyObject *py_batch_md5_prefix64(PyObject *self, PyObject *args) {
    Py_buffer data, offs;
    Py_ssize_t n, arr_offset;
    int large;
    if (!PyArg_ParseTuple(args, "y*y*nnp", &data, &offs, &n, &arr_offset,
                          &large))
        return NULL;
    const uint8_t *base = (const uint8_t *)data.buf;
    const int32_t *o32 = (const int32_t *)offs.buf;
    const int64_t *o64 = (const int64_t *)offs.buf;
    uint64_t *out = PyMem_Malloc((n > 0 ? n : 1) * sizeof(uint64_t));
    if (!out) {
        PyBuffer_Release(&data); PyBuffer_Release(&offs);
        return PyErr_NoMemory();
    }
    for (Py_ssize_t i = 0; i < n; i++) {
        Py_ssize_t s0 = large ? o64[arr_offset + i] : o32[arr_offset + i];
        Py_ssize_t s1 = large ? o64[arr_offset + i + 1] : o32[arr_offset + i + 1];
        uint8_t d[16];
        md5_digest(base + s0, (size_t)(s1 - s0), d);
        uint64_t v = 0;
        for (int k = 0; k < 8; k++) v = (v << 8) | d[k];
        out[i] = v;
    }
    PyBuffer_Release(&data); PyBuffer_Release(&offs);
    PyObject *r = PyBytes_FromStringAndSize((const char *)out,
                                            n * (Py_ssize_t)sizeof(uint64_t));
    PyMem_Free(out);
    return r;
}

/* ---- XXH64 (implemented from the xxHash specification) ---------------
 * Spark's ``xxhash64`` of a string column is XXH64 over its UTF-8 bytes
 * with seed 42; the resumable pipeline's manifest checksum is
 * ``bit_xor(xxhash64(concat_ws("\0", url, text)))`` per bucket, and the
 * write job computes the per-row hashes here instead of re-reading the
 * written files. */
#define XXP1 11400714785074694791ULL
#define XXP2 14029467366897019727ULL
#define XXP3 1609587929392839161ULL
#define XXP4 9650029242287828579ULL
#define XXP5 2870177450012600261ULL

static inline uint64_t xx_rotl(uint64_t x, int r) {
    return (x << r) | (x >> (64 - r));
}
static inline uint64_t xx_rd64(const uint8_t *p) {
    uint64_t v = 0;
    for (int k = 7; k >= 0; k--) v = (v << 8) | p[k];
    return v;
}
static inline uint64_t xx_rd32(const uint8_t *p) {
    return (uint64_t)p[0] | ((uint64_t)p[1] << 8) |
           ((uint64_t)p[2] << 16) | ((uint64_t)p[3] << 24);
}
static inline uint64_t xx_round(uint64_t acc, uint64_t in) {
    acc += in * XXP2;
    return xx_rotl(acc, 31) * XXP1;
}
static inline uint64_t xx_merge(uint64_t h, uint64_t v) {
    h ^= xx_round(0, v);
    return h * XXP1 + XXP4;
}

static uint64_t xxh64(const uint8_t *p, size_t len, uint64_t seed) {
    const uint8_t *end = p + len;
    uint64_t h;
    if (len >= 32) {
        uint64_t v1 = seed + XXP1 + XXP2, v2 = seed + XXP2, v3 = seed,
                 v4 = seed - XXP1;
        const uint8_t *lim = end - 32;
        do {
            v1 = xx_round(v1, xx_rd64(p));
            v2 = xx_round(v2, xx_rd64(p + 8));
            v3 = xx_round(v3, xx_rd64(p + 16));
            v4 = xx_round(v4, xx_rd64(p + 24));
            p += 32;
        } while (p <= lim);
        h = xx_rotl(v1, 1) + xx_rotl(v2, 7) + xx_rotl(v3, 12) +
            xx_rotl(v4, 18);
        h = xx_merge(h, v1); h = xx_merge(h, v2);
        h = xx_merge(h, v3); h = xx_merge(h, v4);
    } else {
        h = seed + XXP5;
    }
    h += (uint64_t)len;
    for (; p + 8 <= end; p += 8) {
        h ^= xx_round(0, xx_rd64(p));
        h = xx_rotl(h, 27) * XXP1 + XXP4;
    }
    if (p + 4 <= end) {
        h ^= xx_rd32(p) * XXP1;
        h = xx_rotl(h, 23) * XXP2 + XXP3;
        p += 4;
    }
    for (; p < end; p++) {
        h ^= (uint64_t)(*p) * XXP5;
        h = xx_rotl(h, 11) * XXP1;
    }
    h ^= h >> 33; h *= XXP2;
    h ^= h >> 29; h *= XXP3;
    h ^= h >> 32;
    return h;
}

/* batch_xxhash64_concat_ws(a_data, a_offs, a_valid, a_offset, a_large,
 *                          b_data, b_offs, b_valid, b_offset, b_large,
 *                          n: int, seed: int) -> bytes
 *
 * Per row, Spark's ``xxhash64(concat_ws("\0", a, b))`` with the given
 * seed: XXH64 over a's bytes, a NUL, b's bytes; a null value is left
 * out with its separator, as concat_ws does. Returns n native int64
 * values (numpy-frombuffer ready). */
static PyObject *py_batch_xxhash64_concat_ws(PyObject *self, PyObject *args) {
    ArrowStr a, b;
    Py_ssize_t n;
    unsigned long long seed;
    if (!PyArg_ParseTuple(args, "y*y*y*npy*y*y*npnK",
                          &a.data, &a.offs, &a.valid, &a.arr_offset, &a.large,
                          &b.data, &b.offs, &b.valid, &b.arr_offset, &b.large,
                          &n, &seed))
        return NULL;
    uint64_t *out = PyMem_Malloc((n > 0 ? n : 1) * sizeof(uint64_t));
    size_t cap = 256;
    uint8_t *buf = PyMem_Malloc(cap);
    PyObject *r = NULL;
    if (!out || !buf) {
        PyErr_NoMemory();
        goto done;
    }
    for (Py_ssize_t i = 0; i < n; i++) {
        const uint8_t *sa = NULL, *sb = NULL;
        size_t la = 0, lb = 0;
        int ha = as_row(&a, i, &sa, &la), hb = as_row(&b, i, &sb, &lb);
        if (!(ha && hb)) {          /* one part or none: hash in place */
            out[i] = ha ? xxh64(sa, la, seed) : xxh64(sb, lb, seed);
            continue;
        }
        size_t need = la + 1 + lb;
        if (need > cap) {
            while (cap < need) cap *= 2;
            uint8_t *nb = PyMem_Realloc(buf, cap);
            if (!nb) {
                PyErr_NoMemory();
                goto done;
            }
            buf = nb;
        }
        memcpy(buf, sa, la);
        buf[la] = 0;
        memcpy(buf + la + 1, sb, lb);
        out[i] = xxh64(buf, need, seed);
    }
    r = PyBytes_FromStringAndSize((const char *)out,
                                  n * (Py_ssize_t)sizeof(uint64_t));
done:
    PyMem_Free(out);
    PyMem_Free(buf);
    PyBuffer_Release(&a.data); PyBuffer_Release(&a.offs);
    PyBuffer_Release(&a.valid);
    PyBuffer_Release(&b.data); PyBuffer_Release(&b.offs);
    PyBuffer_Release(&b.valid);
    return r;
}

static PyMethodDef methods[] = {
    {"init_tables", py_init_tables, METH_VARARGS,
     "init tag/entity tables (once per process)"},
    {"doc_text", py_doc_text, METH_VARARGS,
     "doc_text(html) -> (text, title|None) or None on bail-out"},
    {"utf8_gate", py_utf8_gate, METH_VARARGS,
     "per-row UTF-8 gate over raw Arrow binary buffers"},
    {"batch_extract", py_batch_extract, METH_VARARGS,
     "batch over raw Arrow string/binary buffers; returns arrow-ready\n"
     "buffers"},
    {"batch_md5_prefix64", py_batch_md5_prefix64, METH_VARARGS,
     "per-string uint64 md5 prefix over raw Arrow utf8 buffers"},
    {"batch_xxhash64_concat_ws", py_batch_xxhash64_concat_ws, METH_VARARGS,
     "per-row Spark xxhash64(concat_ws(NUL, a, b)) over raw Arrow utf8\n"
     "buffers"},
    {"init_pyids", py_init_pyids, METH_VARARGS,
     "python TagRegistry ids aligned with the C tag table"},
    {"build_arena", py_build_arena, METH_VARARGS,
     "build_arena(html, track_spans) -> arena columns tuple | None"},
    {"arena_doc_text", py_arena_doc_text, METH_VARARGS,
     "arena-built (text, title, n_nodes, errors) for streaming-bail\n"
     "documents"},
    {"main_content_text", py_main_content_text, METH_VARARGS,
     "main_content_text(html, candidate_tags) -> ops/maincontent\n"
     "main_content_text(arena) | None on bail-out"},
    {NULL, NULL, 0, NULL}
};

static struct PyModuleDef moduledef = {
    PyModuleDef_HEAD_INIT, "_fastpath",
    "streaming HTML->text fast path", -1, methods
};

PyMODINIT_FUNC PyInit__fastpath(void) {
    return PyModule_Create(&moduledef);
}
