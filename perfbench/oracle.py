"""Reference outputs for the amplicon workloads, computed by an independent
route: DuckDB SQL over the generated input files (FASTQ, SAM), never
through the program.

`SCHEMAS` fixes each call's output columns and Spark types. The benchmark
compares the program's result schema with it first, so a dropped, added,
renamed or retyped column fails the call. Each output is then reduced to
the checksum the benchmark takes on the program's result (see `Checksum`
in src/perfbench/Pass.scala), over the columns of `SCHEMAS`:

- `n`: rows;
- `crc`: sum over rows of crc32 of the row's non-floating columns, in
  schema order, as text joined by \\x01, nulls skipped;
- `d`: the sum of each floating-point column.
"""
import zlib

import duckdb

SEP = "\x01"
FLOATING = ("double", "float")

_READS = ["read_id:string", "seq:string", "qual:string"]
_BAM = ["header:string", "flag:int", "rname:string", "pos:int", "mapq:int", "cigar:string",
        "rnext:string", "pnext:int", "tlen:int", "seq:string", "qual:string",
        "opt:map<string,string>"]
_PCTS = (0, 10, 25, 50, 75, 90, 100)
SCHEMAS = {
    "io.Fastq.read": _READS,
    "core.SeqTable.fromReadsDf": _READS,
    "core.SeqTable.long": ["read_id:string", "position:int", "base:string", "qual:int"],
    "ops.Distributions.seqDist": ["position:int", "base:string", "cnt:bigint"],
    "ops.Distributions.consensus": ["position:int", "base:string"],
    "ops.Distributions.entropy": ["position:int", "entropy:double"],
    "ops.Compare.hammingDistance": ["read_id:string", "ref_name:string", "dist:double"],
    "ops.Compare.mutationProfile": ["ref_name:string", "ref_base:string", "read_base:string",
                                    "cnt:bigint"],
    "ops.QualityDist.apply": ["bin_label:string", "bin_start:int", "bin_end:int", "n:bigint",
                              "mean:double", "median:double", "min:int", "max:int"]
                             + [f"p{p}:double" for p in _PCTS],
    "core.SeqTable.qualityFilter": _READS,
    "ops.Kmers.contiguous": ["start_position:int", "kmer:string", "cnt:bigint"],
    "io.Bam.read": _BAM,
    "core.SeqTable.fromSam": ["read_id:string", "seq:string", "qual:string", "flag:int",
                              "mapq:int", "rnext:string", "pnext:int", "tlen:int",
                              "opt:map<string,string>"],
    "ops.InsertionStats.seqDist": ["position:int", "loc:int", "base:string", "cnt:bigint"],
    "io.Bam.fetchSharded": _BAM,
}


def checksum(con, sql, schema):
    """Checksum of a query's rows over the columns of `schema`."""
    named = [c.split(":", 1) for c in schema]
    cols = [n for n, t in named if t not in FLOATING]
    dcols = [n for n, t in named if t in FLOATING]
    select = ", ".join(f'"{c}"' for c in cols + dcols)
    rows = con.execute(f"SELECT {select} FROM ({sql})").fetchall()
    k = len(cols)
    crc = 0
    sums = [0.0] * len(dcols)
    for r in rows:
        crc += zlib.crc32(SEP.join(str(v) for v in r[:k] if v is not None).encode("utf-8"))
        for j, v in enumerate(r[k:]):
            if v is not None:
                sums[j] += float(v)
    return {"n": len(rows), "crc": crc, "d": dict(zip(dcols, sums))}


def _lines(path):
    return (f"SELECT unnest(l) AS line, unnest(range(1, len(l) + 1)) AS i FROM "
            f"(SELECT string_split(rtrim(content, chr(10)), chr(10)) AS l "
            f"FROM read_text('{path}'))")


def fastq_bins(max_pos):
    """FastQC position bins (the program's `QualityDist.fastqcBins`)."""
    bins = [(i, i) for i in range(1, 10)]
    bins += [(p, p + 4) for p in range(10, min(299, max_pos) + 1, 5)]
    bins += [(p, p + 9) for p in range(300, max_pos + 1, 10)]
    return bins


def amplicon_profile(con, inputs, facts):
    """SQL for every output of an amplicon_profile pass, keyed by call."""
    scaffold = open(f"{inputs}/scaffold.txt").read().strip()
    con.execute(f"CREATE TEMP TABLE lines AS {_lines(inputs + '/R1.fastq')}")
    con.execute("""CREATE TEMP TABLE fq AS
        SELECT substr(a.line, 2) AS read_id, b.line AS seq, c.line AS qual
        FROM lines a JOIN lines b ON b.i = a.i + 1 JOIN lines c ON c.i = a.i + 3
        WHERE a.i % 4 = 1""")
    m = con.execute("SELECT max(length(seq)) FROM fq").fetchone()[0]
    con.execute(f"""CREATE TEMP TABLE reads AS
        SELECT read_id, rpad(seq, {m}, 'N') AS seq, rpad(coalesce(qual, ''), {m}, '!') AS qual
        FROM fq""")
    con.execute(f"""CREATE TEMP TABLE long AS
        SELECT read_id, p::INT AS position, substr(seq, p, 1) AS base,
               ascii(substr(qual, p, 1)) - 33 AS qual
        FROM reads CROSS JOIN range(1, {m} + 1) t(p)""")
    con.execute("CREATE TEMP TABLE dist AS "
                "SELECT position, base, count(*) AS cnt FROM long GROUP BY ALL")
    con.execute(f"""CREATE TEMP TABLE refs AS
        SELECT 'scaffold' AS ref_name, p::INT AS position, substr('{scaffold}', p, 1) AS ref_base
        FROM range(1, {len(scaffold)} + 1) t(p)""")
    q, pct, k = facts["min_q"], facts["min_pct"], facts["k"]
    con.execute(f"""CREATE TEMP TABLE kept AS
        SELECT r.* FROM reads r JOIN (
          SELECT read_id, count(*) FILTER (WHERE qual >= {q}) AS good,
                 count(*) FILTER (WHERE qual > 0) AS denom
          FROM long GROUP BY read_id) g USING (read_id)
        WHERE g.good * 100.0 >= {pct} * g.denom""")
    bins = ", ".join(f"('{a}-{b}', {a}, {b})" for a, b in fastq_bins(m))
    pcts = ", ".join(f"quantile_cont(qual, {p / 100}) AS p{p}" for p in (0, 10, 25, 50, 75, 90, 100))
    return {
        "io.Fastq.read": "SELECT * FROM fq",
        "core.SeqTable.fromReadsDf": "SELECT * FROM reads",
        "core.SeqTable.long": "SELECT * FROM long",
        "ops.Distributions.seqDist": "SELECT * FROM dist",
        "ops.Distributions.consensus": """
            SELECT position, base FROM (
              SELECT position, base, row_number() OVER (
                PARTITION BY position ORDER BY cnt DESC, base) AS rn FROM dist)
            WHERE rn = 1""",
        "ops.Distributions.entropy": """
            SELECT position, -sum(freq * ln(freq) / ln(2)) AS entropy FROM (
              SELECT position, cnt / sum(cnt) OVER (PARTITION BY position) AS freq FROM dist)
            GROUP BY position""",
        "ops.Compare.hammingDistance": """
            SELECT read_id, ref_name, sum(CASE WHEN base <> ref_base THEN 1 ELSE 0 END)::DOUBLE AS dist
            FROM long JOIN refs USING (position) GROUP BY read_id, ref_name""",
        "ops.Compare.mutationProfile": """
            SELECT ref_name, ref_base, base AS read_base, sum(cnt) AS cnt
            FROM dist JOIN refs USING (position) WHERE ref_base <> base GROUP BY ALL""",
        "ops.QualityDist.apply": f"""
            SELECT bin_label, bin_start, bin_end, count(*) AS n, avg(qual) AS mean,
                   quantile_cont(qual, 0.5) AS median, min(qual) AS min, max(qual) AS max, {pcts}
            FROM long JOIN (VALUES {bins}) b(bin_label, bin_start, bin_end)
              ON position BETWEEN bin_start AND bin_end
            WHERE qual > 0 GROUP BY bin_label, bin_start, bin_end""",
        "core.SeqTable.qualityFilter": "SELECT * FROM kept",
        "ops.Kmers.contiguous": f"""
            SELECT p::INT AS start_position, substr(seq, p, {k}) AS kmer, count(*) AS cnt FROM (
              SELECT seq, unnest(range(1, length(seq) - {k} + 2)) AS p FROM kept
              WHERE length(seq) >= {k})
            GROUP BY ALL""",
    }


def amplicon_ingest(con, inputs, facts):
    """SQL for every output of an amplicon_ingest pass; fetch k is keyed
    `io.Bam.fetchSharded#k`."""
    con.execute(f"CREATE TEMP TABLE lines AS {_lines(inputs + '/amplicons.sam')}")
    con.execute("""CREATE TEMP TABLE sam AS
        SELECT f[1] AS header, f[2]::INT AS flag, f[3] AS rname, f[4]::INT AS pos,
               f[5]::INT AS mapq, f[6] AS cigar, f[7] AS rnext, f[8]::INT AS pnext,
               f[9]::INT AS tlen, f[10] AS seq, f[11] AS qual,
               -- the program's opt map as Spark casts it to text; the
               -- generated SAM carries no optional fields
               CASE WHEN len(f) = 11 THEN '{}' END AS opt
        FROM (SELECT string_split(line, chr(9)) AS f FROM lines
              WHERE length(line) > 0 AND NOT starts_with(line, '@'))""")
    # single-event cigars: aM, aM bI cM, aM bD cM
    con.execute(r"""CREATE TEMP TABLE aln AS
        SELECT *, pos + a + (CASE WHEN op = 'D' THEN b ELSE 0 END) + c - 1 AS end_pos FROM (
          SELECT *,
            regexp_extract(cigar, '^(\d+)M', 1)::INT AS a,
            regexp_extract(cigar, '^\d+M\d+([ID])', 1) AS op,
            coalesce(nullif(regexp_extract(cigar, '^\d+M(\d+)[ID]', 1), '')::INT, 0) AS b,
            coalesce(nullif(regexp_extract(cigar, '[ID](\d+)M$', 1), '')::INT, 0) AS c
          FROM sam)""")
    mn, mx = con.execute("SELECT min(pos), max(end_pos) FROM aln").fetchone()
    sql = {
        "io.Bam.read": "SELECT * FROM sam",
        "core.SeqTable.fromSam": f"""
            SELECT header AS read_id,
              repeat('$', pos - {mn}) || CASE op
                WHEN 'I' THEN substr(seq, 1, a) || substr(seq, a + b + 1)
                WHEN 'D' THEN substr(seq, 1, a) || repeat('-', b) || substr(seq, a + 1)
                ELSE seq END || repeat('$', {mx} - end_pos) AS seq,
              repeat('!', pos - {mn}) || CASE op
                WHEN 'I' THEN substr(qual, 1, a) || substr(qual, a + b + 1)
                WHEN 'D' THEN substr(qual, 1, a) || repeat('!', b) || substr(qual, a + 1)
                ELSE qual END || repeat('!', {mx} - end_pos) AS qual,
              flag, mapq, rnext, pnext, tlen, opt
            FROM aln""",
        "ops.InsertionStats.seqDist": """
            SELECT (pos + a)::INT AS position, (i - b - 1)::INT AS loc,
                   substr(seq, a + i, 1) AS base, count(*) AS cnt
            FROM (SELECT *, unnest(range(1, b + 1)) AS i FROM aln WHERE op = 'I')
            GROUP BY ALL""",
    }
    for k, (beg, end) in enumerate(facts["regions"]):
        sql[f"io.Bam.fetchSharded#{k}"] = (
            "SELECT header, flag, rname, pos, mapq, cigar, rnext, pnext, tlen, seq, qual, opt "
            f"FROM aln WHERE rname = 'ref1' AND pos <= {end} "
            f"AND pos + greatest(1, end_pos - pos + 1) - 1 >= {beg}")
    return sql


QUERIES = {"amplicon_profile": amplicon_profile, "amplicon_ingest": amplicon_ingest}


def reference(workload, inputs, facts):
    """Checksums of every reference output of a workload, keyed by call
    (`io.Bam.fetchSharded#k` for fetch k). A query that fails gives
    `{"error": ...}` for its key; the other keys are still computed."""
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        refs = {}
        for key, sql in QUERIES[workload](con, inputs, facts).items():
            try:
                refs[key] = checksum(con, sql, SCHEMAS[key.split("#")[0]])
            except duckdb.Error as e:
                refs[key] = {"error": f"oracle: {type(e).__name__}: {e}"}
        return refs
    finally:
        con.close()
