package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One front door for the health of ANY persisted graft store — the
  * pager for an operator who inherits a directory and does not know
  * (or does not trust the runbook about) which family wrote it.
  * [[detectStoreKind]] reads the LAYOUT, not metadata that could lie:
  * store kinds come from the two layout tables, matched against the
  * resolved generation's child datasets and, for the flat ledgers, one
  * parquet schema footer — no data bytes are read.
  *
  *   - the five ANN index families (`ivf`, `ivf_pq`, `ivf_sq8`, `pq`,
  *     `sq8`) by [[Similarity.IndexLayouts]], the one table of their
  *     row store and auxiliary datasets; a directory holding some of
  *     those datasets but no complete layout is `unknown`
  *   - `epoch-NNNNNNNNNNNN/` child dirs      → `admit_epochs`
  *     (a streamed-admit epoch root — [[Dedup.admitEpochHealthReport]])
  *   - flat ledger stores by the file columns of Dedup's ledger store
  *     table ([[Dedup.ledgerKindOf]]): signature rows → `neardup_ledger`,
  *     band keys → `neardup_bands` (the near-dup ledger's sibling store
  *     — health is reported for the ledger PAIR, so the dispatcher
  *     redirects to the primary), digests → `dedup_ledger`
  *
  * [[storeHealthReport]] then routes to the family's existing report
  * verb and prepends a `store_kind` column, so the first column of the
  * one-pager says what the directory IS. Only the path-only layout
  * reports are dispatched here — the drift/recall monitors need a
  * corpus/batch frame no path can supply and stay family-specific.
  * Unknown or empty layouts fail LOUDLY with what was actually found:
  * a health tool that shrugs is how a mislabeled store stays
  * mislabeled. */
object StoreHealth {

  /** Detect which family wrote the store at `path` (or a generation
    * dir of it — resolve is the identity there). Driver-side listing
    * plus at most one parquet schema read. */
  def detectStoreKind(spark: SparkSession, path: String): String = {
    if (!graft.util.Gen.hasData(spark, path)) return "empty"
    val g = graft.util.Gen.resolve(spark, path)
    val fs = new org.apache.hadoop.fs.Path(g)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Similarity.layoutOf(spark, g).map(_.kind).getOrElse {
      if (Similarity.IndexLayouts.flatMap(_.aux).distinct
          .exists(d => fs.exists(new org.apache.hadoop.fs.Path(g, d))))
        "unknown"
      else if (fs.listStatus(new org.apache.hadoop.fs.Path(g)).exists(st =>
        st.isDirectory && st.getPath.getName.matches("epoch-\\d+")))
        "admit_epochs" // a streamed-admit epoch root (never versioned)
      else // flat dataset: one schema footer decides among the ledgers
        Dedup.ledgerKindOf(graft.util.Gen.read(spark, g).columns.toSeq)
          .getOrElse("unknown")
    }
  }

  /** Route to the family's layout health report, `store_kind` first.
    * A `_bands`-suffixed near-dup band store redirects to its primary
    * (the pair is one ledger — [[Dedup.nearDupLedgerHealthReport]]
    * already audits both sides and their row-count invariant). */
  def storeHealthReport(spark: SparkSession, path: String): DataFrame = {
    val kind = detectStoreKind(spark, path)
    val report = kind match {
      case k if Similarity.IndexLayouts.exists(_.kind == k) =>
        Similarity.indexStats(spark, path)
      case "dedup_ledger" => Dedup.dedupLedgerStats(spark, path)
      case "admit_epochs" => Dedup.admitEpochHealthReport(spark, path)
      case "neardup_ledger" => Dedup.nearDupLedgerHealthReport(spark, path)
      case "neardup_bands" =>
        // the pair's primary derives from the store root — the path
        // itself, or (for a generation dir handed straight in) its
        // parent; a renamed/copied band store has no derivable pair
        val bandsRoot =
          if (path.endsWith("_bands")) Some(path)
          else Option(new org.apache.hadoop.fs.Path(path).getParent)
            .map(_.toString).filter(_.endsWith("_bands"))
        bandsRoot match {
          case Some(b) => Dedup.nearDupLedgerHealthReport(spark,
            b.stripSuffix("_bands"))
          case None => throw new IllegalArgumentException(
            s"storeHealthReport: $path is a near-dup BAND store " +
              "whose ledger primary cannot be derived from the path " +
              "(the pair lives at <primary> and <primary>_bands) — " +
              "pass the ledger primary path; its report audits both " +
              "stores")
        }
      case other =>
        throw new IllegalArgumentException(
          s"storeHealthReport: $path is not a recognizable graft " +
            s"store (detected '$other') — expected an IVF/PQ/SQ8 " +
            "index layout (centroids/codebooks/codes/assigned), a " +
            "dedup ledger (text_md5 digests), or a near-dup ledger " +
            "(signature rows / band keys). For a bare generation " +
            "census use Gen.generationCensus.")
    }
    report.select(lit(kind).as("store_kind") +: report.columns
      .map(col): _*)
  }
}
