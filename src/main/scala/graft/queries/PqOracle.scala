package graft.queries

import graft.sources.OracleAux
import graft.Rounding.r6sql

/** DuckDB oracle SQL for the PQ search family (q54/q116/q130/q134),
  * generated against a FROZEN codebook/centroid artifact (see
  * [[graft.sources.OracleAux]]). Every stage after training is
  * deterministic double math both engines execute in the same IEEE
  * order, so the full search result — encode argmin, ADC scores,
  * shortlist cut, exact re-rank — hash-matches:
  *
  *  - normalize: x / sqrt(Σx²), in-order fold (`list_dot_product`
  *    sums left-to-right, same as the codegen'd graft_dot).
  *  - encode: argmin over ≤256 codebook rows of the expanded
  *    ‖sv‖² + ‖c‖² − 2⟨sv,c⟩ (same three in-order dots, same +/−
  *    order), ties to the smaller code — `row_number()` mirror.
  *  - ADC: per-(query,row) sum of m LUT entries in subspace order —
  *    `list_sum(list(ip ORDER BY sub))`, the fixed-order fold idiom.
  *  - shortlist: top k·rerank by (adc DESC, id ASC) — the TopK
  *    aggregate's exact ordering contract (TopKSpec).
  *  - re-rank: r6(dot / (norm·norm)) over RAW vectors, top k by
  *    (cos DESC, id ASC).
  *
  * Selection decisions (argmin, shortlist, rank) compare RAW doubles,
  * never rounded ones — safe because both engines compute
  * bit-identical values, the same argument q53's encode oracle is
  * green on. Assumes no zero-norm vectors in the corpus fixture (a
  * zero norm is dropped by normalize on the Spark side and yields a
  * NULL-division drop here; the fixtures contain none).
  */
object PqOracle {

  /** Corpus subvector + codebook distance CTEs shared by both oracle
    * shapes. Emits CTE bodies: raw, nrm, qn, cb, sv, d2, enc, lut. */
  private def commonCtes(cbArtifact: String, m: Int, dsub: Int): String = {
    val cbRead = OracleAux.readSql(cbArtifact, "sub, code, c_v")
      .replace("\n", "\n         ")
    s"""raw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |        FROM embeddings),
       |nrm AS (SELECT vec_id, list_transform(v, x -> x / n) AS v
       |        FROM (SELECT vec_id, v,
       |                sqrt(list_dot_product(v, v)) AS n FROM raw)
       |        WHERE n > 0),
       |qn AS (SELECT vec_id AS q_id, v FROM nrm WHERE vec_id < 10),
       |cb AS ($cbRead),
       |sv AS (SELECT vec_id, s.sub AS sub,
       |         list_slice(v, s.sub * $dsub + 1, s.sub * $dsub + $dsub) AS sv
       |       FROM nrm, (SELECT unnest(range($m)) AS sub) s),
       |d2 AS (SELECT sv.vec_id, sv.sub, cb.code,
       |         list_dot_product(sv.sv, sv.sv)
       |         + list_dot_product(cb.c_v, cb.c_v)
       |         - 2.0 * list_dot_product(sv.sv, cb.c_v) AS d2
       |       FROM sv JOIN cb ON sv.sub = cb.sub),
       |enc AS (SELECT vec_id, sub, code FROM (
       |          SELECT vec_id, sub, code, row_number() OVER
       |            (PARTITION BY vec_id, sub ORDER BY d2, code) AS rn
       |          FROM d2) WHERE rn = 1),
       |lut AS (SELECT q.q_id, cb.sub, cb.code,
       |          list_dot_product(list_slice(q.v,
       |            cb.sub * $dsub + 1, cb.sub * $dsub + $dsub), cb.c_v) AS ip
       |        FROM qn q, cb)""".stripMargin
  }

  /** Shortlist + exact re-rank tail shared by both shapes; `adc` CTE
    * must emit (q_id, n_id, adc). */
  private def rerankTail(topK: Int, rerank: Int): String =
    s"""sl AS (SELECT q_id, n_id FROM (
       |         SELECT q_id, n_id, row_number() OVER
       |           (PARTITION BY q_id ORDER BY adc DESC, n_id) AS rn
       |         FROM adc) WHERE rn <= ${topK * rerank}),
       |rr AS (SELECT s.q_id, s.n_id,
       |         ${r6sql("""list_dot_product(q.v, c.v)
       |           / (sqrt(list_dot_product(q.v, q.v))
       |              * sqrt(list_dot_product(c.v, c.v)))""")} AS cos
       |       FROM sl s JOIN raw q ON q.vec_id = s.q_id
       |                 JOIN raw c ON c.vec_id = s.n_id)
       |SELECT q_id, n_id, cos, CAST(rk AS INTEGER) AS rank FROM (
       |  SELECT q_id, n_id, cos, row_number() OVER
       |    (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rk
       |  FROM rr WHERE cos IS NOT NULL) WHERE rk <= $topK
       |ORDER BY q_id, rank""".stripMargin

  /** Full-scan ADC top-k (q54's pqAdcTopK; also q130/q134, whose
    * persisted/incremental code relations are bit-equal to a fresh
    * full-corpus encode with the same frozen codebook — the zero-
    * drift property PqSpec pins). */
  def adcTopKSql(cbArtifact: String, m: Int = 16, dsub: Int = 4,
      topK: Int = 3, rerank: Int = 16): String =
    s"""WITH ${commonCtes(cbArtifact, m, dsub)},
       |adc AS (SELECT l.q_id, e.vec_id AS n_id,
       |          list_sum(list(l.ip ORDER BY l.sub)) AS adc
       |        FROM enc e JOIN lut l ON l.sub = e.sub AND l.code = e.code
       |        WHERE l.q_id <> e.vec_id
       |        GROUP BY l.q_id, e.vec_id),
       |${rerankTail(topK, rerank)}""".stripMargin

  /** IVF-PQ top-k (q116's ivfPqTopK): assignment and probes are
    * recomputed against the FROZEN centroid table (argmax cosine,
    * ties to the smaller cell id; probes = top-nprobe cells per
    * query), then ADC runs only over probed-cell candidates. nprobe
    * mirrors the Spark default max(2, ceil(nlist·0.4)) with
    * nlist = max(8, ceil(√n)) — forced double math on both sides. */
  def ivfPqTopKSql(cbArtifact: String, centArtifact: String,
      m: Int = 16, dsub: Int = 4, topK: Int = 3, rerank: Int = 16): String = {
    val centRead = OracleAux.readSql(centArtifact, "c_id, c_v, c_norm")
      .replace("\n", "\n         ")
    s"""WITH ${commonCtes(cbArtifact, m, dsub)},
       |cent AS ($centRead),
       |npv AS (SELECT GREATEST(2, CAST(ceil(CAST(GREATEST(8,
       |          CAST(ceil(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT))
       |          AS DOUBLE) * CAST(0.4 AS DOUBLE)) AS BIGINT)) AS np
       |        FROM embeddings),
       |rawn AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nn
       |         FROM raw),
       |asg AS (SELECT vec_id AS n_id, c_id AS cell FROM (
       |          SELECT r.vec_id, c.c_id, row_number() OVER
       |            (PARTITION BY r.vec_id ORDER BY
       |               list_dot_product(r.v, c.c_v) / (r.nn * c.c_norm)
       |                 DESC NULLS LAST, c.c_id) AS rn
       |          FROM rawn r, cent c) WHERE rn = 1),
       |prb AS (SELECT q_id, cell FROM (
       |          SELECT r.vec_id AS q_id, c.c_id AS cell, row_number() OVER
       |            (PARTITION BY r.vec_id ORDER BY
       |               list_dot_product(r.v, c.c_v) / (r.nn * c.c_norm)
       |                 DESC NULLS LAST, c.c_id) AS rn
       |          FROM rawn r, cent c WHERE r.vec_id < 10)
       |        WHERE rn <= (SELECT np FROM npv)),
       |cand AS (SELECT p.q_id, a.n_id
       |         FROM asg a JOIN prb p ON a.cell = p.cell
       |         WHERE p.q_id <> a.n_id),
       |adc AS (SELECT c.q_id, c.n_id,
       |          list_sum(list(l.ip ORDER BY l.sub)) AS adc
       |        FROM cand c
       |          JOIN enc e ON e.vec_id = c.n_id
       |          JOIN lut l ON l.q_id = c.q_id AND l.sub = e.sub
       |                    AND l.code = e.code
       |        GROUP BY c.q_id, c.n_id),
       |${rerankTail(topK, rerank)}""".stripMargin
  }
}
