package graft.cef

package object spark {

  /** [[graft.cef.SpstRun]] under its streaming-layer name: the forecasting
    * run whose state snapshots, restores and swaps its model in place. */
  type RestorableSpstRun = graft.cef.SpstRun
}
