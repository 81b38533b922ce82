"""Seeded input generators for the graft benchmark.

Two kinds of input, each written to its own directory together with a
truth file the benchmark checks the program's outputs against:

* ``cohort``: a BGZF-compressed ``cohort.vcf.gz`` (GT:AD:DP:GQ:PL,
  about 10 % multi-allelic records, VEP ``CSQ`` with 1-4 transcripts per
  allele), a trio ``cohort.ped`` and ``truth.tsv`` (decomposed row
  counts, genotype-class sums, one genotype blob, and the row count of
  every call of the GEMINI-style cycle the traced run probes).
* ``corpus``: ``docs.parquet`` (doc_id, text, lang, source, n_chars)
  with planted exact duplicates and planted near duplicates (one word
  substituted per 80), ``truth.tsv`` (distinct md5 counts from DuckDB)
  and ``near_groups.tsv`` (each planted original with its near copy).

Truth is computed from the generator's own model, never by the program
under test. The same (kind, seed, size) always gives byte-identical
files.
"""
import itertools
import os
import random
import struct
import zlib

# ---------------------------------------------------------------- BGZF

_BGZF_EOF = bytes.fromhex(
    "1f8b08040000000000ff0600424302001b0003000000000000000000")


def _bgzf_block(data):
    comp = zlib.compressobj(6, zlib.DEFLATED, -15)
    cdata = comp.compress(data) + comp.flush()
    header = struct.pack("<BBBBIBBHBBHH", 31, 139, 8, 4, 0, 0, 255, 6,
                         66, 67, 2, len(cdata) + 25)
    return header + cdata + struct.pack("<II", zlib.crc32(data), len(data))


def write_bgzf(path, text):
    data = text.encode("utf-8")
    with open(path, "wb") as f:
        for i in range(0, len(data), 65280):
            f.write(_bgzf_block(data[i:i + 65280]))
        f.write(_BGZF_EOF)

# -------------------------------------------------------------- cohort

CSQ_FIELDS = ["Allele", "Consequence", "IMPACT", "SYMBOL", "Gene",
              "Feature_type", "Feature", "BIOTYPE", "EXON", "HGVSc",
              "HGVSp", "PolyPhen", "SIFT"]
# (SO term, VEP impact, graft severity bucket, weight)
CONSEQUENCES = [
    ("stop_gained", "HIGH", "HIGH", 2),
    ("splice_donor_variant", "HIGH", "HIGH", 1),
    ("missense_variant", "MODERATE", "MED", 14),
    ("splice_region_variant", "LOW", "MED", 4),
    ("synonymous_variant", "LOW", "LOW", 12),
    ("3_prime_UTR_variant", "MODIFIER", "LOW", 8),
    ("intron_variant", "MODIFIER", "LOW", 30),
    ("upstream_gene_variant", "MODIFIER", "LOW", 10),
]
CHROMS = ["chr1", "chr2", "chr3"]
GENE_SPAN = 10000
HOM_REF, HET, UNKNOWN, HOM_ALT = 0, 1, 2, 3


def _gt_type(alleles, alt_ix):
    if alleles is None:
        return UNKNOWN
    n = sum(1 for a in alleles if a == alt_ix)
    return HOM_REF if n == 0 else HOM_ALT if n == len(alleles) else HET


def _draw_af(rng):
    u = rng.random()
    if u < 0.6:
        return rng.uniform(0.005, 0.05)
    if u < 0.9:
        return rng.uniform(0.05, 0.5)
    return rng.uniform(0.5, 0.95)


# The fixed parameters of the GEMINI-style cycle; truth.tsv carries them
# to the benchmark so both sides ask the same questions.
GT_FILTER = "(gt_types).(phenotype==2).(==HET).(count>=2)"
SAMPLE_FILTER = "phenotype = '2'"
GENE_SET_SIZE = 12


def make_cohort(out_dir, seed, n_records, n_families):
    rng = random.Random(seed * 7919 + 1)
    samples, ped, trios = [], [], []
    for f in range(1, n_families + 1):
        fam = "F%03d" % f
        dad, mom, kid = fam + "_dad", fam + "_mom", fam + "_kid"
        base = len(samples)
        samples += [dad, mom, kid]
        ped += ["%s\t%s\t0\t0\t1\t1" % (fam, dad),
                "%s\t%s\t0\t0\t2\t1" % (fam, mom),
                "%s\t%s\t%s\t%s\t%d\t2" % (fam, kid, dad, mom,
                                           1 + (f % 2))]
        trios.append((fam, base + 2, base, base + 1))
    n_samples = len(samples)

    header = [
        "##fileformat=VCFv4.2",
        "##source=graft-perfbench",
    ]
    header += ["##contig=<ID=%s,length=250000000>" % c for c in CHROMS]
    header += [
        '##FILTER=<ID=LowQual,Description="Low quality">',
        '##INFO=<ID=AC,Number=A,Type=Integer,Description="Allele count">',
        '##INFO=<ID=AF,Number=A,Type=Float,Description="Allele frequency">',
        '##INFO=<ID=DP,Number=1,Type=Integer,Description="Total depth">',
        '##INFO=<ID=MQ,Number=1,Type=Float,Description="Mapping quality">',
        '##INFO=<ID=DB,Number=0,Type=Flag,Description="dbSNP member">',
        '##INFO=<ID=CSQ,Number=.,Type=String,Description="Consequence '
        'annotations from Ensembl VEP. Format: %s">' % "|".join(CSQ_FIELDS),
        '##FORMAT=<ID=GT,Number=1,Type=String,Description="Genotype">',
        '##FORMAT=<ID=AD,Number=R,Type=Integer,Description="Allelic depths">',
        '##FORMAT=<ID=DP,Number=1,Type=Integer,Description="Read depth">',
        '##FORMAT=<ID=GQ,Number=1,Type=Integer,Description="Genotype quality">',
        '##FORMAT=<ID=PL,Number=G,Type=Integer,Description="Phred likelihoods">',
        "\t".join(["#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER",
                   "INFO", "FORMAT"] + samples),
    ]
    cons_w = [c[3] for c in CONSEQUENCES]
    per_chrom = [n_records // len(CHROMS)] * len(CHROMS)
    per_chrom[0] += n_records - sum(per_chrom)

    lines = []
    rows = []        # decomposed rows: (chrom, pos, ref, alt, gt_types, genes)
    n_impacts = 0
    burden = set()   # distinct (symbol, severity bucket)
    blob = None
    for chrom, n in zip(CHROMS, per_chrom):
        pos = 10000
        for _ in range(n):
            pos += rng.randint(20, 400)
            ref = rng.choice("ACGT")
            n_alt = 2 if rng.random() < 0.10 else 1
            alts = rng.sample([b for b in "ACGT" if b != ref], n_alt)
            afs = [_draw_af(rng) for _ in alts]
            if sum(afs) > 0.95:
                afs = [a * 0.95 / sum(afs) for a in afs]
            cum = []
            acc = 0.0
            for a in afs:
                acc += a
                cum.append(acc)

            def allele():
                u = rng.random()
                for i, c in enumerate(cum):
                    if u < c:
                        return i + 1
                return 0

            calls = [None] * n_samples
            for fam, kid, dad, mom in trios:
                calls[dad] = (allele(), allele())
                calls[mom] = (allele(), allele())
                k = [rng.choice(calls[dad]), rng.choice(calls[mom])]
                if rng.random() < 0.004:
                    k[0] = 1
                calls[kid] = tuple(k)
            for i in range(n_samples):
                if rng.random() < 0.02:
                    calls[i] = None
            n_g = (n_alt + 1) * (n_alt + 2) // 2
            cells = []
            ac = [0] * n_alt
            for c in calls:
                if c is None:
                    cells.append("./.:.:.:.:.")
                    continue
                a, b = sorted(c)
                for x in (a, b):
                    if x:
                        ac[x - 1] += 1
                dp = rng.randint(8, 60)
                ad = [0] * (n_alt + 1)
                if a == b:
                    ad[a] = dp
                else:
                    ad[a] = dp // 2
                    ad[b] = dp - dp // 2
                called_ix = b * (b + 1) // 2 + a
                pl = [0 if g == called_ix else rng.randint(20, 250)
                      for g in range(n_g)]
                cells.append("%d/%d:%s:%d:%d:%s" % (
                    a, b, ",".join(map(str, ad)), dp, rng.randint(5, 99),
                    ",".join(map(str, pl))))
            gene_ix = pos // GENE_SPAN
            csq = []
            alt_genes = []
            for alt in alts:
                genes = set()
                for _t in range(rng.randint(1, 4)):
                    g = gene_ix + (1 if rng.random() < 0.15 else 0)
                    sym = "G%s_%05d" % (chrom[3:], g)
                    cons = rng.choices(CONSEQUENCES, cons_w)[0]
                    tx = "ENST%011d" % rng.randint(1, 10 ** 9)
                    csq.append("|".join([
                        alt, cons[0], cons[1], sym, "ENSG" + sym, "Transcript",
                        tx, "protein_coding", "%d/12" % rng.randint(1, 12),
                        "", "", "", ""]))
                    genes.add(sym)
                    burden.add((sym, cons[2]))
                    n_impacts += 1
                alt_genes.append(genes)
            info = "AC=%s;AF=%s;DP=%d;MQ=%.1f%s;CSQ=%s" % (
                ",".join(map(str, ac)),
                ",".join("%.4f" % a for a in afs),
                rng.randint(500, 3000), rng.uniform(20, 60),
                ";DB" if rng.random() < 0.3 else "", ",".join(csq))
            vid = "rs%d" % rng.randint(1, 10 ** 8) if rng.random() < 0.5 else "."
            filt = "PASS" if rng.random() < 0.9 else "LowQual"
            lines.append("\t".join([
                chrom, str(pos), vid, ref, ",".join(alts),
                "%.1f" % rng.uniform(10, 5000), filt, info,
                "GT:AD:DP:GQ:PL"] + cells))
            for ai, alt in enumerate(alts):
                alt_ix = ai + 1
                types = [_gt_type(c, alt_ix) for c in calls]
                rows.append((chrom, pos, ref, alt, types, alt_genes[ai]))
                if blob is None and n_alt == 2 and alt_ix == 2:
                    half = alt_ix * (alt_ix + 1) // 2
                    alt_depths, homalt_pl = [], []
                    for cell in cells:
                        f = cell.split(":")
                        alt_depths.append(-1 if f[1] == "." else
                                          int(f[1].split(",")[alt_ix]))
                        homalt_pl.append(-1 if f[4] == "." else
                                         int(f[4].split(",")[half + alt_ix]))
                    blob = (chrom, pos, ref, alt, types, alt_depths, homalt_pl)

    os.makedirs(out_dir, exist_ok=True)
    write_bgzf(os.path.join(out_dir, "cohort.vcf.gz"),
               "\n".join(header + lines) + "\n")
    with open(os.path.join(out_dir, "cohort.ped"), "w") as f:
        f.write("#family_id\tsample_id\tpaternal_id\tmaternal_id\tsex\tphenotype\n")
        f.write("\n".join(ped) + "\n")

    # ---- truth for the GEMINI-style cycle
    kids = [t[1] for t in trios]
    c1 = [r for r in rows if r[0] == "chr1"]
    c2 = [r for r in rows if r[0] == "chr2"]
    lo1, hi1 = c1[len(c1) // 5][1], c1[2 * len(c1) // 5][1]
    lo2, hi2 = c2[len(c2) // 2][1], c2[len(c2) // 2 + len(c2) // 10][1]
    region = "chr1:%d-%d" % (lo1, hi1)
    export_region = "chr2:%d-%d" % (lo2, hi2)
    all_genes = sorted({g for r in rows for g in r[5]})
    gene_set = sorted(random.Random(seed).sample(
        all_genes, min(GENE_SET_SIZE, len(all_genes))))
    gset = set(gene_set)
    # impacts rows whose SYMBOL is in the set = the join's row count;
    # recount from the written CSQ so transcripts are counted per entry
    impacts_in_set = 0
    for line in lines:
        info = line.split("\t")[7]
        csq = info[info.index("CSQ=") + 4:].split(";")[0]
        impacts_in_set += sum(1 for e in csq.split(",")
                              if e.split("|")[3] in gset)
    inherit = 0
    hets = {}
    for chrom, pos, ref, alt, t, genes in rows:
        for fam, k, d, m in trios:
            c, fa, mo = t[k], t[d], t[m]
            if ((c == HET and fa == HOM_REF and mo == HOM_REF) or
                    (c == HOM_ALT and fa == HET and mo == HET) or
                    (c == HOM_ALT and (fa == HOM_REF or mo == HOM_REF)) or
                    (c == HOM_REF and (fa == HOM_ALT or mo == HOM_ALT)) or
                    (c == HET and fa == HOM_ALT and mo == HOM_ALT)):
                inherit += 1
            if c == HET and ((fa == HET and mo == HOM_REF) or
                             (mo == HET and fa == HOM_REF)):
                for g in genes:
                    hets.setdefault((fam, g), []).append(
                        (chrom, pos, fa == HET))
    comp_hets = 0
    for sites in hets.values():
        for a in sites:
            for b in sites:
                if (a[0], a[1]) < (b[0], b[1]) and a[2] != b[2]:
                    comp_hets += 1
    truth = {
        "n_variants": len(rows),
        "n_impacts": n_impacts,
        "n_samples": n_samples,
        "sum_het": sum(r[4].count(HET) for r in rows),
        "sum_hom_alt": sum(r[4].count(HOM_ALT) for r in rows),
        "region": region,
        "export_region": export_region,
        "gene_set": ",".join(gene_set),
        "gt_filter": GT_FILTER,
        "sample_filter": SAMPLE_FILTER,
        "q.region": sum(1 for r in c1 if lo1 <= r[1] <= hi1),
        "q.gt_filter": sum(1 for r in rows
                           if sum(1 for k in kids if r[4][k] == HET) >= 2),
        "q.sample_filter_all": sum(
            1 for r in rows if all(r[4][k] in (HET, HOM_ALT) for k in kids)),
        "q.impacts_gene_set": impacts_in_set,
        "q.inheritance": inherit,
        "q.comp_hets": comp_hets,
        "q.tstv": len({r[0] for r in rows}),
        "q.gene_burden": len(burden),
        "q.sample_qc": n_samples,
        "q.export_vcf": sum(1 for r in c2 if lo2 <= r[1] <= hi2),
        "blob.key": "|".join(map(str, blob[:4])),
        "blob.gt_types": ",".join(map(str, blob[4])),
        "blob.gt_alt_depths": ",".join(map(str, blob[5])),
        "blob.gt_phred_ll_homalt": ",".join(map(str, blob[6])),
    }
    _write_truth(out_dir, truth)
    return truth

# -------------------------------------------------------------- corpus

_SYLL = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "an", "el",
         "or", "un", "is", "be", "da", "fu", "go", "hi", "ju", "pe", "qu"]


EXACT_SHARE = 0.10  # planted exact copies, as a share of all docs
NEAR_SHARE = 0.10   # planted near copies, as a share of all docs


def make_corpus(out_dir, seed, n_docs):
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = random.Random(seed * 104729 + 3)
    vocab = sorted({"".join(rng.choice(_SYLL) for _ in range(rng.randint(2, 4)))
                    for _ in range(6000)})
    # Zipf-like word frequencies, so docs share common words but rarely
    # a 3-word shingle
    cum = list(itertools.accumulate(1.0 / (i + 1) ** 0.7 for i in range(len(vocab))))
    n_exact = int(n_docs * EXACT_SHARE)
    n_near = int(n_docs * NEAR_SHARE)
    n_orig = n_docs - n_exact - n_near

    def make_text():
        words = rng.choices(vocab, cum_weights=cum, k=rng.randint(60, 160))
        out, i = [], 0
        while i < len(words):
            n = rng.randint(6, 16)
            s = words[i:i + n]
            s[0] = s[0].capitalize()
            out.append(" ".join(s) + ".")
            i += n
        if rng.random() < 0.05:
            out.append("Contact %s@example.org for details." % rng.choice(vocab))
        return " ".join(out)

    texts = [make_text() for _ in range(n_orig)]
    # planted structures draw from disjoint originals
    picks = rng.sample(range(n_orig), n_exact + n_near)
    exact_src, near_src = picks[:n_exact], picks[n_exact:]
    texts += [texts[i] for i in exact_src]
    for i in near_src:
        words = texts[i].split(" ")
        for _ in range(1 + len(words) // 80):
            j = rng.randrange(len(words))
            tail = "." if words[j].endswith(".") else ""
            words[j] = rng.choice(vocab) + tail
        texts.append(" ".join(words))
    ids = list(range(n_docs))
    rng.shuffle(ids)  # planted copies land before or after their original
    near_groups = [(ids[i], ids[n_orig + n_exact + k])
                   for k, i in enumerate(near_src)]
    sources = ["src%d" % rng.randrange(8) for _ in range(n_docs)]
    order = sorted(range(n_docs), key=lambda k: ids[k])
    table = pa.table({
        "doc_id": pa.array([ids[k] for k in order], pa.int64()),
        "text": [texts[k] for k in order],
        "lang": ["en"] * n_docs,
        "source": [sources[k] for k in order],
        "n_chars": pa.array([len(texts[k]) for k in order], pa.int64()),
    })
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "docs.parquet")
    pq.write_table(table, path)
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    q = lambda s: con.execute(s.replace("DOCS", "read_parquet('%s')" % path)).fetchone()[0]
    truth = {
        "n_docs": n_docs,
        "n_odd": q("SELECT count(*) FROM DOCS WHERE doc_id % 2 = 1"),
        "exact_survivors": q("SELECT count(DISTINCT md5(text)) FROM DOCS"),
        "delta_exact_survivors": q(
            "SELECT count(DISTINCT md5(text)) FROM DOCS WHERE doc_id % 2 = 1 "
            "AND md5(text) NOT IN (SELECT md5(text) FROM DOCS "
            "WHERE doc_id % 2 = 0)"),
        "planted_exact": n_exact,
        "planted_near": n_near,
    }
    con.close()
    with open(os.path.join(out_dir, "near_groups.tsv"), "w") as f:
        f.write("".join("%d\t%d\n" % g for g in near_groups))
    _write_truth(out_dir, truth)
    return truth


def _write_truth(out_dir, truth):
    with open(os.path.join(out_dir, "truth.tsv"), "w") as f:
        for k, v in truth.items():
            f.write("%s\t%s\n" % (k, v))

