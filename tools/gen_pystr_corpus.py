# Writes the Python str(float) corpus that PythonStrCorpusSpec checks
# graft.functions.PythonStr.render against, one row per double:
#   <IEEE-754 bits as 16 hex digits> TAB <CPython str() of that double>
# Standard library only, fixed seed, so a rerun reproduces the file byte for
# byte (on any CPython 3.1+, whose float repr is the shortest round-trip).
#
#   python3 tools/gen_pystr_corpus.py [out]   # default: src/test/resources/pystr_corpus.tsv
import math, os, random, struct, sys

SEED = 20201

def bits(v):
    return struct.unpack('>Q', struct.pack('>d', v))[0]

def dbl(b):
    return struct.unpack('>d', struct.pack('>Q', b))[0]

def widened(f):
    """The double a Spark FLOAT column widens to: f rounded to binary32."""
    try:
        return struct.unpack('>f', struct.pack('>f', f))[0]
    except OverflowError:  # rounds past the largest binary32, as Java's (float)
        return math.copysign(math.inf, f)

# Doubles that a Formatter-based renderer (String.format("%.{p-1}e") probed
# for p = 1..17 until it parses back) spells differently from CPython: JDK
# 17's Formatter rounds its own 17-digit string, not the exact binary value.
# The first 24 are every mismatch among 300,000 uniform random bit patterns;
# all sit at binary exponents 59, 60, 62 and 84.
FORMATTER_MISSES = [
    0xc3de5618e4f17210, 0x43d6f04149e0dc50, 0x43bd8a1f8c6ac0ed, 0xc3bbb2ae93712bec,
    0x43afd11b92705eac, 0xc53494f0afe25ee4, 0xc534e76cb81c58ab, 0x4530bd60de8e7bf1,
    0xc530c89bbf35ce80, 0x43af80179b65f779, 0xc3ded5ddb8111476, 0xc3b7c7ba7db42cdd,
    0x4537379ca408de7e, 0xc3baeab428e72d57, 0x43a23d9e1c26a481, 0xc3d407ea99e50849,
    0xc3b540b0ac552607, 0xc3dc3f74cf8ef8f0, 0x43b3935fff030072, 0xc53661b07a670c9d,
    0xc5340d8be70a842a, 0x43dd601070a23dcf, 0x43b7d8835f2a6573, 0x43ae00985e8374e4,
    0xc3ab8dee798ecbae,  # -9.927526082972116e+17 (Formatter: ...117e+17)
    0x43de55ee9c5c7e55,  # 8.743662197969343e+18 (Formatter: 8.7436621979693435e+18)
]

# tools/gen_goldens.py's float fixture (its Python strings are goldens too)
FLOAT_FIXTURE = [0.1, 1.5, 400.2024, 654941.845, 12345678.0, 1e16, 1.5e16,
                 1e-4, 9.999e-5, 5e-324, 1.7976931348623157e308, -0.0, 2.0,
                 -273.15, 6.02214076e23, 3.141592653589793, 1e15, 123456789.123]

def corpus():
    rng = random.Random(SEED)
    out = []
    # specials and range ends
    out += [0.0, -0.0, math.inf, -math.inf, math.nan,
            dbl(0x0010000000000000),   # MIN_NORMAL
            dbl(0x000fffffffffffff),   # largest subnormal
            dbl(0x7fefffffffffffff), dbl(0xffefffffffffffff)]  # +-MAX_VALUE
    # every subnormal with mantissa 1..4096: where CPython takes a 1-digit
    # decimal and Java's spec a 2-digit one (5e-324 vs 4.9E-324)
    out += [dbl(m) for m in range(1, 4097)]
    out += [-dbl(m) for m in range(1, 65)]
    out += [dbl(b) for b in FORMATTER_MISSES]
    out += FLOAT_FIXTURE
    # powers of ten with both neighbours; covers the 1e-4 and 1e16 switches
    for k in range(-323, 309):
        p = float('1e%d' % k)
        out += [math.nextafter(p, 0.0), p, math.nextafter(p, math.inf)]
    # powers of two (asymmetric rounding interval) and their predecessors
    for k in range(-1074, 1024):
        p = math.ldexp(1.0, k)
        out += [p, math.nextafter(p, 0.0)]
    out += [9999999999999998.0, 1e16 + 2, 12345678901234567.0, 0.0001, 0.00011,
            9.999e-05, 1.5e16, 123456789012345.6, 0.1 + 0.2, 1 / 3, 2 / 3]
    # FLOAT columns widen to double before rendering: 0.1f -> 0.10000000149011612
    out += [widened(x) for x in FLOAT_FIXTURE + [0.2, 0.3, 1.1, 3.14159, 1e38]]
    out += [widened(n / 10) for n in range(1, 201)]
    out += [struct.unpack('>f', struct.pack('>I', rng.getrandbits(32)))[0]
            for _ in range(1000)]
    # short decimals like the benchmark's doubles: p / 1000, p < 2^31
    out += [rng.randrange(1 << 31) / 1000 for _ in range(1000)]
    # uniform random bit patterns (NaN payloads included: all print "nan")
    out += [dbl(rng.getrandbits(64)) for _ in range(10000)]
    seen, rows = set(), []
    for v in out:
        b = bits(v)
        if b not in seen:
            seen.add(b)
            rows.append('%016x\t%s\n' % (b, str(v)))
    return rows

if __name__ == '__main__':
    here = os.path.dirname(os.path.abspath(__file__))
    dest = sys.argv[1] if len(sys.argv) > 1 else os.path.normpath(
        os.path.join(here, '..', 'src', 'test', 'resources', 'pystr_corpus.tsv'))
    rows = corpus()
    with open(dest, 'w') as f:
        f.writelines(rows)
    print('%d rows -> %s' % (len(rows), dest))
